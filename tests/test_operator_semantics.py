"""Per-operator semantics on hand-built rows (SURVEY.md §6 layer 1).

Each test runs the *real* registered query function over the tiny
controlled fixture dir, where the correct answer is derivable by hand —
ordering, tie-breaks, window edges, dedup policy, funnel subsequence
semantics, LSH recall on planted dups.
"""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from trafficteach_spark.registry import queries
from trafficteach_spark.session import cache_scope

Q = queries()


@pytest.fixture(autouse=True)
def _scoped_cache(spark):
    """Queries and operator memos here may persist frames in the shared
    session (the registry's caching contract: the caller scopes them), so
    each test runs inside cache_scope and none outlives its test."""
    with cache_scope(spark):
        yield


def rows(spark, sf_dir, key):
    return {tuple(r) for r in Q[key](spark, sf_dir).collect()}


# ---------- windows ----------


def test_trajectory_orders_by_time(spark, tiny_sf_dir):
    out = {r["user_id"]: r["trajectory"] for r in Q["q12_trajectory"](spark, tiny_sf_dir).collect()}
    assert out[1] == "view->click->purchase"
    assert out[2] == "click->view"  # time order, not chain order
    assert 5 not in out  # out-of-range event filtered


def test_session_window_gap_edges(spark, tiny_sf_dir):
    per_user = {}
    for r in Q["q22_session_window"](spark, tiny_sf_dir).collect():
        per_user.setdefault(r["user_id"], []).append(r["n_events"])
    # user 1: gaps 10 and 19 min -> one session of 3 events
    assert sorted(per_user[1]) == [3]
    # user 2: 31-min gap >= 30-min threshold -> split into two sessions
    assert sorted(per_user[2]) == [1, 1]


def test_topk_per_group_rank_and_tiebreak(spark, tiny_sf_dir):
    got = rows(spark, tiny_sf_dir, "q11_topk_per_group")
    view = sorted((r for r in got if r[0] == "view"), key=lambda r: r[3])
    # view counts: user3=2, user4=2, user1=1 -> rank by n desc then user asc
    assert [(r[1], r[2], r[3]) for r in view] == [(3, 2, 1), (4, 2, 2), (1, 1, 3)]


# ---------- sequences ----------


def test_funnel_subsequence_semantics(spark, tiny_sf_dir):
    out = {r["step"]: r["n_users"] for r in Q["q19_funnel"](spark, tiny_sf_dir).collect()}
    # view seen by users 1,2,3,4 (user5 out of range) -> 4
    # view->click in order: only user 1 (user 2 clicked BEFORE viewing)
    # full chain: only user 1
    assert out == {1: 4, 2: 1, 3: 1}


def test_follow_within_pairs(spark, tiny_sf_dir):
    got = rows(spark, tiny_sf_dir, "q13_follow_within")
    # user 3 follows user 4 twice within 10 min at 'view' -> the only pair
    assert got == {(4, 3, 2)}


# ---------- sampling ----------


def test_stratified_sample_quota(spark, tiny_sf_dir):
    per_stratum = {}
    for r in Q["q08_stratified_sample"](spark, tiny_sf_dir).collect():
        per_stratum[r["stratum_hour"]] = per_stratum.get(r["stratum_hour"], 0) + 1
    assert per_stratum and all(n <= 2 for n in per_stratum.values())


def test_stratified_sample_deterministic(spark, tiny_sf_dir):
    a = rows(spark, tiny_sf_dir, "q08_stratified_sample")
    b = rows(spark, tiny_sf_dir, "q08_stratified_sample")
    assert a == b


# ---------- dedup family ----------


def test_exact_dedup_keep_first(spark, tiny_sf_dir):
    got = {r["doc_id"]: r["n_copies"] for r in Q["q30_exact_dedup"](spark, tiny_sf_dir).collect()}
    # docs 0 and 2 share identical text -> one group, min doc_id kept
    assert got[0] == 2 and 2 not in got
    assert got[1] == 1 and got[3] == 1


def test_near_dedup_finds_planted_pair_only(spark, tiny_sf_dir):
    got = rows(spark, tiny_sf_dir, "q31_near_dedup")
    pairs = {(a, b) for a, b, _ in got}
    # 0~1 (one-token edit) and the exact dup 0~2 / 1~2; never 3 or 4
    assert (0, 1) in pairs and (0, 2) in pairs
    assert not any(3 in p or 4 in p for p in pairs)
    jac = {(a, b): j for a, b, j in got}
    assert jac[(0, 2)] == 1.0
    assert 0.5 <= jac[(0, 1)] < 1.0


def test_minhash_lsh_recovers_exact_result(spark, tiny_sf_dir):
    exact = rows(spark, tiny_sf_dir, "q31_near_dedup")
    banded = rows(spark, tiny_sf_dir, "q31_minhash_lsh")
    # planted dups are J>=0.5 with tiny miss probability; identical output
    assert banded == exact


def test_simhash_identical_docs_distance_zero(spark, tiny_sf_dir):
    got = rows(spark, tiny_sf_dir, "q31_simhash")
    d = {(a, b): h for a, b, h in got}
    assert d[(0, 2)] == 0  # identical text -> identical fingerprint
    # Unrelated docs never land within Hamming 3. (A one-token edit on an
    # 8-token doc CAN flip >3 bits — per-bit sums are tiny — so no
    # assertion on (0, 1); simhash's edit tolerance is a long-doc property.)
    assert not any(3 in p or 4 in p for p in d)


# ---------- similarity ----------


def test_knn_cosine_geometry(spark, tiny_sf_dir):
    got = Q["q32_knn_cosine"](spark, tiny_sf_dir).collect()
    top = {(r["qid"], r["knn_rank"]): (r["nid"], r["cosine"]) for r in got}
    # vec 0's nearest is the parallel vec 1 (cos 1), then orthogonal 2 (0),
    # then anti-parallel 3 (-1)
    assert top[(0, 1)] == (1, 1.0)
    assert top[(0, 2)] == (2, 0.0)
    assert top[(0, 3)] == (3, -1.0)


def test_embed_near_dup_threshold(spark, tiny_sf_dir):
    got = rows(spark, tiny_sf_dir, "q35_embed_near_dup")
    assert {(a, b) for a, b, _ in got} == {(0, 1)}  # only the parallel pair


# ---------- text family ----------


def test_langid_stopword_vote(spark, tiny_sf_dir):
    got = rows(spark, tiny_sf_dir, "q36_langid")
    as_dict = {(a, p): n for a, p, n in got}
    assert as_dict[("en", "en")] == 3  # docs 0,1,2 contain 'the'
    assert as_dict[("en", "und")] == 1  # doc 3 has no stopword
    assert as_dict[("xx", "und")] == 1


def test_fingerprint_is_token_set_invariant(spark, tiny_sf_dir):
    got = {r["doc_id"]: r["fingerprint"] for r in Q["q38_fingerprint"](spark, tiny_sf_dir).collect()}
    assert got[0] == got[2]  # identical text
    assert got[0] != got[3]


def test_quality_score_buckets(spark, tiny_sf_dir):
    got = {r["doc_id"]: r["quality"] for r in Q["q39_quality_score"](spark, tiny_sf_dir).collect()}
    assert set(got.values()) <= {"high", "medium", "low"}
    assert got[4] == "low"  # 5 tokens


# ---------- UDx / binary plumbing ----------


def test_pandas_udf_decile(spark, tiny_sf_dir):
    got = rows(spark, tiny_sf_dir, "q23_pandas_udf")
    # values 10,20,30,15,25,11,12,13,14 -> floor%10
    deciles = {(t, d) for t, d, _ in got}
    assert ("view", 1) in deciles and ("click", 0) in deciles and ("purchase", 0) in deciles


def test_binary_pipeline_md5_matches_python(spark, tiny_sf_dir):
    got = {r["doc_id"]: r for r in Q["q40_binary_pipeline"](spark, tiny_sf_dir).collect()}
    from tests.conftest import TINY_DOCS

    for doc_id, text, *_ in TINY_DOCS:
        payload = text[:32].encode()
        assert got[doc_id]["payload_len"] == len(payload)
        assert got[doc_id]["payload_md5"] == hashlib.md5(payload).hexdigest()
        assert got[doc_id]["width"] == 16 + doc_id % 64


def test_decode_image_is_an_explicit_stub():
    from trafficteach_spark.operators.llm.multimodal import decode_image

    with pytest.raises(NotImplementedError):
        decode_image(b"\x89PNG")


def test_ivf_full_probe_equals_brute_force(spark):
    """nprobe=K searches every inverted list -> must equal exact KNN."""
    from trafficteach_spark.operators.llm.similarity import IVF_K, knn_ivf

    sf = "/root/testdata/sf0.001"
    exact = {tuple(r) for r in Q["q32_knn_cosine"](spark, sf).collect()}
    full_probe = {tuple(r) for r in knn_ivf(spark, sf, nprobe=IVF_K).collect()}
    assert full_probe == exact


def test_ivf_partial_probe_subset_of_universe(spark):
    """Registered nprobe<K variant returns TOP_K rows per query, each a
    real corpus vector with correctly rounded cosine (spot-check via the
    exact pair set)."""
    from trafficteach_spark.operators.llm.similarity import TOP_K

    sf = "/root/testdata/sf0.001"
    got = Q["q32_knn_ivf"](spark, sf).collect()
    per_q = {}
    for r in got:
        per_q.setdefault(r["qid"], []).append(r)
    assert all(len(v) == TOP_K for v in per_q.values())
    exact_cos = {
        (r["qid"], r["nid"]): r["cosine"]
        for r in Q["q32_knn_cosine"](spark, sf).collect()
    }
    for r in got:
        if (r["qid"], r["nid"]) in exact_cos:
            assert r["cosine"] == exact_cos[(r["qid"], r["nid"])]


def test_frame_sample_fanout(spark, tiny_sf_dir):
    got = Q["q41_frame_sample"](spark, tiny_sf_dir).collect()
    import hashlib as _h

    from tests.conftest import TINY_DOCS

    by_doc = {}
    for r in got:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for doc_id, text, *_ in TINY_DOCS:
        n_frames = 4 + doc_id % 8
        rows = sorted(by_doc[doc_id], key=lambda r: r["frame_idx"])
        assert [r["frame_idx"] for r in rows] == list(range(0, n_frames, 2))
        buf = text[:32].encode()
        for r in rows:
            start = (r["frame_idx"] * 8) % len(buf)
            assert r["frame_md5"] == _h.md5((buf + buf)[start:start + 8]).hexdigest()


def test_resize_thumbnail_shape(spark, tiny_sf_dir):
    got = Q["q42_resize"](spark, tiny_sf_dir).collect()
    from tests.conftest import TINY_DOCS

    assert len(got) == len(TINY_DOCS)
    by_doc = {r["doc_id"]: r for r in got}
    for doc_id, text, *_ in TINY_DOCS:
        payload = text[:32]
        r = by_doc[doc_id]
        assert r["orig_len"] == len(payload)
        assert len(r["thumb"]) == 8
        # nearest-neighbor grid: char j of the thumb comes from index
        # floor(j*n/8) of the payload
        expected = "".join(payload[(j * len(payload)) // 8] for j in range(8))
        assert r["thumb"] == expected


def test_chunk_split_boundaries(spark, tiny_sf_dir):
    got = Q["q43_chunk_split"](spark, tiny_sf_dir).collect()
    from tests.conftest import TINY_DOCS

    by_doc = {}
    for r in got:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for doc_id, text, *_ in TINY_DOCS:
        words = text.split(" ")
        rows = sorted(by_doc[doc_id], key=lambda r: r["chunk_idx"])
        # chunks reassemble exactly to the original token stream
        assert " ".join(r["chunk_text"] for r in rows) == text
        assert all(r["n_tokens"] == len(r["chunk_text"].split(" ")) for r in rows)
        assert sum(r["n_tokens"] for r in rows) == len(words)


def test_int8_quantize_bounds_and_error(spark, tiny_sf_dir):
    # registered form serializes qv as CSV (harness canonicalizer can't
    # sort raw array columns); parse it back for the numeric invariants
    got = Q["q44_int8_quantize"](spark, tiny_sf_dir).collect()
    for r in got:
        qv = [int(x) for x in r["qv"].split(",")]
        assert all(-127 <= q <= 127 for q in qv)
        assert max(abs(q) for q in qv) == 127  # max-abs element saturates
        assert r["max_abs_err"] <= r["scale"] / 2 + 1e-9  # rounding bound


def test_int8_quantize_library_form_keeps_array(spark, tiny_sf_dir):
    from trafficteach_spark.operators.llm.similarity import int8_quantize
    from trafficteach_spark.sources.tables import load_table

    out = int8_quantize(load_table(spark, tiny_sf_dir, "embeddings"))
    assert dict(out.dtypes)["qv"] == "array<int>"
    row = out.limit(1).collect()[0]
    assert isinstance(row["qv"], list) and all(isinstance(q, int) for q in row["qv"])


def test_funnel_arbitrary_chain(spark, tiny_sf_dir):
    from trafficteach_spark.operators.sequences import funnel

    # 2-step chain view->purchase: users 1,2,3,4 viewed (in range);
    # only user 1 purchased after viewing.
    out = {r["step"]: r for r in funnel(spark, tiny_sf_dir, ("view", "purchase")).collect()}
    assert out[1]["n_users"] == 4 and out[1]["step_type"] == "view"
    assert out[2]["n_users"] == 1 and out[2]["rate"] == 0.25
    # 4-step chain with an unmatched tail step -> zero at depth 4
    out4 = {r["step"]: r["n_users"] for r in funnel(
        spark, tiny_sf_dir, ("view", "click", "purchase", "error")).collect()}
    assert out4[3] == 1 and out4[4] == 0


def test_multiprobe_lsh_recall_dominates_single_probe(spark):
    from trafficteach_spark.operators.llm.similarity import knn_lsh_multiprobe

    sf = "/root/testdata/sf0.001"
    exact = {(r["qid"], r["nid"]) for r in Q["q32_knn_cosine"](spark, sf).collect()}
    single = {(r["qid"], r["nid"]) for r in knn_lsh_multiprobe(spark, sf, 0).collect()}
    multi = {(r["qid"], r["nid"]) for r in knn_lsh_multiprobe(spark, sf, 1).collect()}
    multi2 = {(r["qid"], r["nid"]) for r in knn_lsh_multiprobe(spark, sf, 2).collect()}
    recall_single = len(single & exact) / len(exact)
    recall_multi = len(multi & exact) / len(exact)
    recall_multi2 = len(multi2 & exact) / len(exact)
    # radius-r recall dominates radius-(r-1): every probed bucket set is a
    # superset, so the candidate set (and recall) can only grow
    assert recall_multi >= recall_single
    assert recall_multi2 >= recall_multi
    # the registered q32_knn_lsh is exactly the single-probe form
    registered = {(r["qid"], r["nid"]) for r in Q["q32_knn_lsh"](spark, sf).collect()}
    assert registered == single


def test_repetition_signal(spark, tiny_sf_dir):
    got = {r["doc_id"]: r for r in Q["q45_repetition"](spark, tiny_sf_dir).collect()}
    # doc 0: "the quick brown fox jumps over the lazy dog" — 9 tokens,
    # 7 trigrams, all distinct -> ratio 0, not repetitive
    assert got[0]["n_grams"] == 7 and got[0]["n_dup_grams"] == 0
    assert got[0]["dup_ratio"] == 0.0 and got[0]["is_repetitive"] == 0


def test_dedup_clusters_components(spark, tiny_sf_dir):
    got = {r["doc_id"]: (r["canonical_id"], r["is_canonical"])
           for r in Q["q46_dedup_clusters"](spark, tiny_sf_dir).collect()}
    # docs 0,1,2 form one near-dup component -> canonical 0; 3,4 singletons
    assert got[0] == (0, 1) and got[1] == (0, 0) and got[2] == (0, 0)
    assert got[3] == (3, 1) and got[4] == (4, 1)


def test_alternating_cc_long_chain_converges_in_log_rounds(spark):
    """The star-contraction upgrade's point: a path graph is the
    worst case for min-label propagation (diameter rounds — a 40-node
    chain would have exhausted the old 20-round budget), but the
    alternating algorithm folds it in O(log n)."""
    from trafficteach_spark.operators.llm.dedup import alternating_components

    n = 40
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a long, doc_b long"
    )
    star, rounds = alternating_components(chain)
    labels = {r["doc_id"]: r["canonical_id"] for r in star.collect()}
    assert labels == {i: 0 for i in range(1, n)}  # root 0 absent by contract
    assert rounds <= 10, rounds  # log-round bound, far under diameter 39


def test_alternating_cc_multiple_components_and_empty(spark):
    from trafficteach_spark.operators.llm.dedup import alternating_components

    edges = spark.createDataFrame(
        # component {1,2,3} (triangle), component {10,11}, self-loop noise
        [(2, 1), (3, 2), (1, 3), (11, 10), (5, 5)],
        "doc_a long, doc_b long",
    )
    star, _ = alternating_components(edges)
    labels = {r["doc_id"]: r["canonical_id"] for r in star.collect()}
    assert labels == {2: 1, 3: 1, 11: 10}  # roots 1/10 absent; 5 isolated
    empty = spark.createDataFrame([], "doc_a long, doc_b long")
    star0, rounds0 = alternating_components(empty)
    assert star0.count() == 0 and rounds0 == 0


def test_alternating_cc_raises_on_budget_exhaustion(spark):
    import pytest

    from trafficteach_spark.operators.llm.dedup import alternating_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(15)], "doc_a long, doc_b long"
    )
    with pytest.raises(RuntimeError, match="fixed point"):
        alternating_components(chain, max_rounds=1)


def test_pii_redact_counts_and_scrubs(spark, tiny_sf_dir):
    got = Q["q47_pii_redact"](spark, tiny_sf_dir).collect()
    assert len(got) > 0
    for r in got:
        # the planting adds exactly one email + one phone per doc
        assert r["n_emails"] == 1 and r["n_phones"] == 1
        assert "<EMAIL>" in r["redacted"] and "<PHONE>" in r["redacted"]
        assert "@example.com" not in r["redacted"]
        assert "+1-555-" not in r["redacted"]


def test_tfidf_rank_and_df_invariants(spark, tiny_sf_dir):
    from trafficteach_spark.operators.llm.corpus import TFIDF_TOP_K

    rows = Q["q48_tfidf"](spark, tiny_sf_dir).collect()
    n_docs = len({r["doc_id"] for r in rows})
    by_doc = {}
    for r in rows:
        assert 1 <= r["tf"] and 1 <= r["df"] <= n_docs + 5  # df over all docs
        by_doc.setdefault(r["doc_id"], []).append(r)
    for rs in by_doc.values():
        ranks = sorted(r["term_rank"] for r in rs)
        assert ranks == list(range(1, len(rs) + 1))
        assert len(rs) <= TFIDF_TOP_K
        # ranks follow (tfidf desc, term asc)
        ordered = sorted(rs, key=lambda r: (-r["tfidf"], r["term"]))
        assert [r["term_rank"] for r in ordered] == list(range(1, len(rs) + 1))


def test_pack_sequences_matches_python_prefix_sums(spark, tiny_sf_dir):
    from trafficteach_spark.operators.llm.corpus import PACK_BUDGET

    rows = Q["q49_pack_sequences"](spark, tiny_sf_dir).collect()
    by_source = {}
    for r in sorted(rows, key=lambda r: (r["source"], r["doc_id"])):
        cum = by_source.get(r["source"], 0)
        assert r["bin_id"] == cum // PACK_BUDGET
        assert r["pack_offset"] == cum % PACK_BUDGET
        by_source[r["source"]] = cum + r["n_tokens"]
    assert all(r["pack_offset"] < PACK_BUDGET for r in rows)


def test_decontaminate_flags_benchmark_near_dups(spark):
    from trafficteach_spark.operators.llm.corpus import DECON_BENCH_MOD

    sf = "/root/testdata/sf0.001"
    got = {r["doc_id"]: r["n_shared_grams"] for r in Q["q50_decontaminate"](spark, sf).collect()}
    assert got, "fixture must produce contamination hits"
    assert all(d % DECON_BENCH_MOD != 0 for d in got)  # benchmark docs excluded
    assert all(n >= 1 for n in got.values())
    # doc 0 is in the benchmark set (0 % mod == 0) and has planted
    # near-dups 50 and 82 sharing long runs -> both must be flagged
    assert 50 in got and 82 in got


def test_asof_join_matches_bruteforce(spark):
    """The union-then-window as-of must equal the definitional brute
    force: per event, the max-orderdate order with o_orderdate <= ts
    (orderkey max-tiebreak at equal dates)."""
    from trafficteach_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    got = {
        r["event_id"]: (r["o_orderkey"], r["o_orderdate"])
        for r in Q["q51_asof_join"](spark, sf).collect()
    }
    events = load_table(spark, sf, "events").select("event_id", "user_id", "ts").collect()
    orders = load_table(spark, sf, "orders").select(
        "o_custkey", "o_orderdate", "o_orderkey"
    ).collect()
    by_user = {}
    for o in orders:
        by_user.setdefault(o["o_custkey"], []).append(o)
    expected = {}
    for e in events:
        cands = [o for o in by_user.get(e["user_id"], []) if o["o_orderdate"] <= e["ts"]]
        if cands:
            best = max(cands, key=lambda o: (o["o_orderdate"], o["o_orderkey"]))
            expected[e["event_id"]] = (best["o_orderkey"], best["o_orderdate"])
    assert got == expected


def test_percentiles_match_numpy_linear(spark, tiny_sf_dir):
    import numpy as np

    from trafficteach_spark.sources.tables import load_table

    got = {r["event_type"]: r for r in Q["q52_percentiles"](spark, tiny_sf_dir).collect()}
    vals = {}
    for r in load_table(spark, tiny_sf_dir, "events").collect():
        vals.setdefault(r["event_type"], []).append(r["value"])
    for et, v in vals.items():
        r = got[et]
        assert r["n"] == len(v)
        # Spark percentile == numpy linear interpolation
        assert r["p50"] == round(float(np.percentile(v, 50)), 6)
        assert r["p90"] == round(float(np.percentile(v, 90)), 6)
        assert r["p50"] <= r["p90"] <= r["p99"]


def test_rollup_levels_reconcile(spark, tiny_sf_dir):
    rows_ = Q["q53_rollup"](spark, tiny_sf_dir).collect()
    by_gid = {}
    for r in rows_:
        by_gid.setdefault(r["gid"], []).append(r)
    assert set(by_gid) == {0, 1, 3}
    total = sum(r["n"] for r in by_gid[0])
    # per-type subtotals sum to detail rows; grand total row matches
    assert sum(r["n"] for r in by_gid[1]) == total
    (grand,) = by_gid[3]
    assert grand["n"] == total
    assert grand["event_type"] is None and grand["hr"] is None


def test_pivot_row_sums_equal_hour_counts(spark, tiny_sf_dir):
    from trafficteach_spark.operators.analytics import EVENT_TYPES
    from trafficteach_spark.sources.tables import load_table

    got = {r["hr"]: r for r in Q["q54_pivot"](spark, tiny_sf_dir).collect()}
    per_hour = {}
    for r in load_table(spark, tiny_sf_dir, "events").collect():
        per_hour[r["ts"].hour] = per_hour.get(r["ts"].hour, 0) + 1
    assert set(got) == set(per_hour)
    for hr, r in got.items():
        assert sum(r[f"n_{t}"] for t in EVENT_TYPES) == per_hour[hr]


def test_salted_distinct_equals_plain_count_distinct(spark, tiny_sf_dir):
    from pyspark.sql import functions as F

    from trafficteach_spark.operators.skew import salted_distinct_count
    from trafficteach_spark.sources.tables import load_table

    events = load_table(spark, tiny_sf_dir, "events")
    plain = {
        (r["event_type"],): r["n"]
        for r in events.groupBy("event_type")
        .agg(F.count_distinct("user_id").alias("n"))
        .collect()
    }
    for n_salts in (1, 4, 16):
        salted = {
            (r["event_type"],): r["n_distinct"]
            for r in salted_distinct_count(
                events, ["event_type"], "user_id", n_salts
            ).collect()
        }
        assert salted == plain, n_salts


def test_vocab_topk_ranks_and_fractions(spark, tiny_sf_dir):
    rows_ = Q["q56_vocab_topk"](spark, tiny_sf_dir).collect()
    assert [r["vocab_rank"] for r in sorted(rows_, key=lambda r: r["vocab_rank"])] == list(
        range(1, len(rows_) + 1)
    )
    ordered = sorted(rows_, key=lambda r: (-r["n"], r["term"]))
    assert [r["vocab_rank"] for r in ordered] == list(range(1, len(rows_) + 1))
    assert sum(r["frac"] for r in rows_) <= 1.0 + 1e-6
    # 'the' appears most often in the tiny fixture
    assert ordered[0]["term"] == "the"


def _lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def test_edit_distance_on_candidates(spark, tiny_sf_dir):
    from tests.conftest import TINY_DOCS
    from trafficteach_spark.operators.llm.corpus import EDIT_PREFIX_CHARS

    got = {(r["doc_a"], r["doc_b"]): r["edit_dist"]
           for r in Q["q57_edit_distance"](spark, tiny_sf_dir).collect()}
    assert got, "near-dup docs share 8-grams in the tiny fixture"
    text = {d[0]: d[1] for d in TINY_DOCS}
    for (a, b), d in got.items():
        assert d == _lev(text[a][:EDIT_PREFIX_CHARS], text[b][:EDIT_PREFIX_CHARS])
    # identical docs 0 and 2 -> distance 0
    assert got.get((0, 2)) == 0


def test_alternating_cc_matches_union_find_property(spark):
    """Property check: on random edge lists, star contraction must agree
    with a reference union-find — exercises shapes (cycles, cross-links,
    merged chains) the hand fixtures don't."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from trafficteach_spark.operators.llm.dedup import alternating_components

    @settings(
        max_examples=6,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        st.lists(
            st.tuples(st.integers(0, 25), st.integers(0, 25)),
            min_size=0,
            max_size=40,
        )
    )
    def check(edges):
        real = [(a, b) for a, b in edges if a != b]
        parent = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in real:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        comps = {}
        for n in parent:
            comps.setdefault(find(n), set()).add(n)
        expected = {
            n: min(members)
            for root, members in comps.items()
            for n in members
            if n != min(members)
        }
        df = spark.createDataFrame(
            [(a, b) for a, b in edges] or [(0, 0)], "doc_a long, doc_b long"
        )
        star, _ = alternating_components(df)
        got = {r["doc_id"]: r["canonical_id"] for r in star.collect()}
        assert got == expected

    check()


def test_domain_mix_quotas_and_determinism(spark, tiny_sf_dir):
    from trafficteach_spark.operators.llm.corpus import MIX_BASE_QUOTA

    a = Q["q58_domain_mix"](spark, tiny_sf_dir).collect()
    b = Q["q58_domain_mix"](spark, tiny_sf_dir).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))  # reproducible draw
    per_source = {}
    for r in a:
        per_source.setdefault(r["source"], []).append(r["sample_rank"])
    for src, ranks in per_source.items():
        tier = 1 + len(src) % 3
        assert len(ranks) <= MIX_BASE_QUOTA * tier
        assert sorted(ranks) == list(range(1, len(ranks) + 1))


def test_label_centroids_match_numpy_mean(spark, tiny_sf_dir):
    import numpy as np

    from trafficteach_spark.sources.tables import load_table

    got = {r["label"]: r for r in Q["q59_label_centroids"](spark, tiny_sf_dir).collect()}
    by_label = {}
    for r in load_table(spark, tiny_sf_dir, "embeddings").collect():
        by_label.setdefault(r["label"], []).append(np.array(r["embedding"], dtype=np.float64))
    for label, vecs in by_label.items():
        r = got[label]
        assert r["n_vectors"] == len(vecs)
        mean = np.mean(np.vstack(vecs), axis=0)
        parsed = [float(x) for x in r["centroid"].split(",")]
        assert len(parsed) == len(mean)
        assert all(abs(p - round(float(m), 6)) < 2e-6 for p, m in zip(parsed, mean))


def test_kmeans_objective_monotone_and_matches_numpy(spark):
    import numpy as np

    from trafficteach_spark.operators.llm.similarity import kmeans_train
    from trafficteach_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    cent, history = kmeans_train(spark, sf, k=4, iters=3)
    # Lloyd with spherical updates: objective never decreases
    assert all(b >= a - 1e-9 for a, b in zip(history, history[1:])), history

    # numpy replica: same seeds, same argmax/tie rule, same updates
    rows = sorted(
        load_table(spark, sf, "embeddings").collect(), key=lambda r: r["vec_id"]
    )
    ids = np.array([r["vec_id"] for r in rows])
    m = np.array([r["embedding"] for r in rows], dtype=np.float64)
    m = m / np.linalg.norm(m, axis=1, keepdims=True)
    c = m[ids < 4].copy()
    for _ in range(3):
        sims = m @ c.T
        assign = np.argmax(sims, axis=1)  # ties -> lowest cid, like the window
        for j in range(4):
            members = m[assign == j]
            if len(members):
                v = members.mean(axis=0)
                c[j] = v / np.linalg.norm(v)
    got = {r["cid"]: np.array(r["cv"]) for r in cent.collect()}
    for j in range(4):
        assert np.allclose(got[j], c[j], atol=1e-9), j


def test_merge_upsert_duplicate_updates_rejected(spark, tiny_sf_dir):
    import pytest

    from trafficteach_spark.operators.analytics import merge_upsert

    base = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    dup = spark.createDataFrame([(1, "x"), (1, "y")], "k long, v string")
    with pytest.raises(ValueError, match="duplicate keys"):
        merge_upsert(base, dup, ["k"], check_unique=True)
    ok = spark.createDataFrame([(1, "x")], "k long, v string")
    merged = {r["k"]: r["v"] for r in merge_upsert(base, ok, ["k"], check_unique=True).collect()}
    assert merged == {1: "x", 2: "b"}


# ---------- time-series (q62-q64) ----------


def test_time_resample_grid_complete_and_reconciles(spark):
    """The resampled grid must cover every (type, hour) cell exactly
    once, contain real gap rows (n=0), and reconcile totals with a
    plain groupBy over the same data."""
    from trafficteach_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    out = Q["q62_time_resample"](spark, sf).collect()
    events = load_table(spark, sf, "events").select("event_type", "ts").collect()
    types = {e["event_type"] for e in events}
    hours = {e["ts"].replace(minute=0, second=0, microsecond=0) for e in events}
    lo, hi = min(hours), max(hours)
    n_hours = int((hi - lo).total_seconds() // 3600) + 1
    # full dense grid, one row per cell
    assert len(out) == len(types) * n_hours
    assert len({(r["event_type"], r["hr"]) for r in out}) == len(out)
    # totals reconcile; gaps really present as zeros
    assert sum(r["n"] for r in out) == len(events)
    assert any(r["n"] == 0 for r in out)
    zero_rows = [r for r in out if r["n"] == 0]
    assert all(r["sum_value"] == 0.0 for r in zero_rows)


def test_range_join_matches_bruteforce(spark):
    """The bucketized equi-join must equal the definitional inequality
    join: each (lineitem, order) pair with l_shipdate in
    [o_orderdate, o_orderdate + 3 days), counted once."""
    import collections
    import datetime as dt

    from trafficteach_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    got = {
        r["o_orderpriority"]: (r["n_pairs"], r["n_orders"], r["sum_qty"])
        for r in Q["q63_range_join"](spark, sf).collect()
    }
    from trafficteach_spark.operators.timeseries import _MEGA_PRICE

    orders = (
        load_table(spark, sf, "orders")
        .where(f"o_totalprice > {_MEGA_PRICE}")
        .select("o_orderkey", "o_orderpriority", "o_orderdate")
        .collect()
    )
    points = load_table(spark, sf, "lineitem").select(
        "l_shipdate", "l_quantity"
    ).collect()
    by_date = collections.defaultdict(list)
    for o in orders:
        by_date[o["o_orderdate"]].append(o)
    pairs = collections.Counter()
    qty = collections.defaultdict(float)
    okeys = collections.defaultdict(set)
    for p in points:
        for back in range(3):  # orders whose 3-day window covers this day
            for o in by_date.get(p["l_shipdate"] - dt.timedelta(days=back), ()):
                pairs[o["o_orderpriority"]] += 1
                qty[o["o_orderpriority"]] += p["l_quantity"]
                okeys[o["o_orderpriority"]].add(o["o_orderkey"])
    expected = {
        k: (pairs[k], len(okeys[k]), round(qty[k], 6)) for k in pairs
    }
    assert got == expected


def test_cumulative_running_frames(spark):
    """Running total / moving average frames against a per-customer
    python replay in the same (o_orderdate, o_orderkey) order."""
    import collections

    from trafficteach_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    got = {
        r["o_orderkey"]: (r["seq"], r["running_total"], r["mov_avg3"])
        for r in Q["q64_cumulative"](spark, sf).collect()
    }
    orders = load_table(spark, sf, "orders").select(
        "o_custkey", "o_orderkey", "o_orderdate", "o_totalprice"
    ).collect()
    by_cust = collections.defaultdict(list)
    for o in orders:
        by_cust[o["o_custkey"]].append(o)
    for hist in by_cust.values():
        hist.sort(key=lambda o: (o["o_orderdate"], o["o_orderkey"]))
        running = 0.0
        for i, o in enumerate(hist):
            running += o["o_totalprice"]
            window = [x["o_totalprice"] for x in hist[max(0, i - 2) : i + 1]]
            exp = (i + 1, round(running, 6), round(sum(window) / len(window), 6))
            assert got[o["o_orderkey"]] == exp, o["o_orderkey"]


# ---------- analytics/time-series round-3b (q65-q67) ----------


def test_cube_levels_reconcile(spark):
    """Every CUBE grouping set must reconcile with the flat counts: the
    grand total, both one-dimension marginals, and the cross cells."""
    from trafficteach_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    out = Q["q65_cube"](spark, sf).collect()
    orders = load_table(spark, sf, "orders").select(
        "o_orderstatus", "o_orderpriority"
    ).collect()
    total = len(orders)
    # gid bit convention: bit set = column aggregated away (status is the
    # high bit, priority the low bit)
    by_gid = {}
    for r in out:
        by_gid.setdefault(r["gid"], []).append(r)
    assert sorted(by_gid) == [0, 1, 2, 3]
    [grand] = by_gid[3]
    assert grand["n"] == total
    assert grand["o_orderstatus"] is None and grand["o_orderpriority"] is None
    assert sum(r["n"] for r in by_gid[0]) == total  # cross cells
    assert sum(r["n"] for r in by_gid[1]) == total  # per-status marginal
    assert sum(r["n"] for r in by_gid[2]) == total  # per-priority marginal
    import collections

    cross = collections.Counter(
        (o["o_orderstatus"], o["o_orderpriority"]) for o in orders
    )
    got_cross = {
        (r["o_orderstatus"], r["o_orderpriority"]): r["n"] for r in by_gid[0]
    }
    assert got_cross == dict(cross)


def test_anomaly_zscores_match_replay(spark):
    """q66 must flag exactly the hours a python z-score replay flags,
    with matching scores."""
    import collections
    import statistics

    from trafficteach_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    got = {
        (r["event_type"], r["hr"]): (r["n"], r["z"])
        for r in Q["q66_anomaly"](spark, sf).collect()
    }
    events = load_table(spark, sf, "events").select("event_type", "ts").collect()
    hourly = collections.Counter(
        (e["event_type"], e["ts"].replace(minute=0, second=0, microsecond=0))
        for e in events
    )
    by_type = collections.defaultdict(dict)
    for (t, hr), n in hourly.items():
        by_type[t][hr] = n
    expected = {}
    for t, hours in by_type.items():
        ns = list(hours.values())
        mu = statistics.fmean(ns)
        sd = statistics.stdev(ns) if len(ns) > 1 else 0.0
        if sd == 0.0:
            continue
        for hr, n in hours.items():
            z = (n - mu) / sd
            if abs(z) > 2.0:
                expected[(t, hr)] = (n, round(z, 6))
    assert set(got) == set(expected)
    for k, (n, z) in expected.items():
        assert got[k][0] == n
        assert abs(got[k][1] - z) < 1e-6, k


def test_basket_pairs_match_bruteforce(spark):
    """Top-k co-occurring part pairs vs a python Counter replay,
    including the deterministic tie-break ordering."""
    import collections
    import itertools

    from trafficteach_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    got = [
        (r["part_a"], r["part_b"], r["n_orders"])
        for r in Q["q67_basket_pairs"](spark, sf).collect()
    ]
    items = load_table(spark, sf, "lineitem").select(
        "l_orderkey", "l_partkey"
    ).collect()
    baskets = collections.defaultdict(set)
    for r in items:
        baskets[r["l_orderkey"]].add(r["l_partkey"])
    counts = collections.Counter()
    for parts in baskets.values():
        for a, b in itertools.combinations(sorted(parts), 2):
            counts[(a, b)] += 1
    expected = sorted(
        ((a, b, n) for (a, b), n in counts.items()),
        key=lambda t: (-t[2], t[0], t[1]),
    )[:20]
    assert got == expected


def test_unpivot_roundtrips_pivot(spark):
    """q69 must be the exact inverse reshape of the q54 wide matrix:
    melting the pivot and re-aggregating gives the plain long counts."""
    import collections

    from trafficteach_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    got = {
        (r["hr"], r["event_type"]): r["n"]
        for r in Q["q69_unpivot"](spark, sf).collect()
    }
    events = load_table(spark, sf, "events").select("ts", "event_type").collect()
    long_counts = collections.Counter(
        (e["ts"].hour, e["event_type"]) for e in events
    )
    types = {e["event_type"] for e in events}
    hours = {e["ts"].hour for e in events}
    # every (observed hour x type) cell present, absent combos as ZERO
    assert set(got) == {(h, t) for h in hours for t in types}
    for k, n in got.items():
        assert n == long_counts.get(k, 0), k


def test_trailing_range_counts_by_value_not_rows(spark):
    """q70's RANGE frame must include ALL orders in the 30-day value
    window — verified against a python replay that windows by date
    arithmetic, not row position."""
    import collections
    import datetime as dt

    from trafficteach_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    got = {
        r["o_orderkey"]: (r["trailing_30d"], r["n_30d"])
        for r in Q["q70_trailing_range"](spark, sf).collect()
    }
    orders = load_table(spark, sf, "orders").select(
        "o_custkey", "o_orderkey", "o_orderdate", "o_totalprice"
    ).collect()
    by_cust = collections.defaultdict(list)
    for o in orders:
        by_cust[o["o_custkey"]].append(o)
    checked_ties = 0
    for hist in by_cust.values():
        dates = collections.Counter(o["o_orderdate"] for o in hist)
        for o in hist:
            lo = o["o_orderdate"] - dt.timedelta(days=30)
            in_win = [
                x for x in hist if lo <= x["o_orderdate"] <= o["o_orderdate"]
            ]
            exp = (round(sum(x["o_totalprice"] for x in in_win), 6), len(in_win))
            assert got[o["o_orderkey"]] == exp, o["o_orderkey"]
            if dates[o["o_orderdate"]] > 1:
                checked_ties += 1
    # the tie semantics (same-date rows share a frame) must actually be
    # exercised by the fixture, or this test proves nothing about them
    assert checked_ties > 0


# ---------- analytics round-3c (q71-q73) ----------


def test_full_outer_covers_all_presence_classes(spark):
    """The reconciliation must keep days from EITHER side, zero-fill the
    missing side, and the fixture must genuinely exercise order-only,
    ship-only, and both."""
    import collections

    from trafficteach_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    out = {r["d"]: (r["n_orders"], r["n_ships"], r["presence"])
           for r in Q["q71_full_outer"](spark, sf).collect()}
    orders = collections.Counter(
        r["o_orderdate"].date()
        for r in load_table(spark, sf, "orders").select("o_orderdate").collect()
    )
    ships = collections.Counter(
        r["l_shipdate"].date()
        for r in load_table(spark, sf, "lineitem").select("l_shipdate").collect()
    )
    assert set(out) == set(orders) | set(ships)
    seen = set()
    for d, (no, ns, p) in out.items():
        assert no == orders.get(d, 0) and ns == ships.get(d, 0), d
        expect_p = "both" if d in orders and d in ships else (
            "order_only" if d in orders else "ship_only")
        assert p == expect_p, d
        seen.add(p)
    assert seen == {"both", "order_only", "ship_only"}


def test_corr_stats_match_numpy(spark):
    """Pearson corr / sample covariance / sample stddev per group vs a
    numpy replay."""
    import collections

    import numpy as np

    from trafficteach_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    got = {
        r["l_returnflag"]: (r["n"], r["qty_price_corr"], r["qty_disc_covar"], r["price_stddev"])
        for r in Q["q72_corr_stats"](spark, sf).collect()
    }
    rows = load_table(spark, sf, "lineitem").select(
        "l_returnflag", "l_quantity", "l_extendedprice", "l_discount"
    ).collect()
    groups = collections.defaultdict(list)
    for r in rows:
        groups[r["l_returnflag"]].append((r["l_quantity"], r["l_extendedprice"], r["l_discount"]))
    assert set(got) == set(groups)
    for flag, vals in groups.items():
        q, p, disc = (np.array(x, dtype=float) for x in zip(*vals))
        n, (gn, gcorr, gcov, gsd) = len(vals), got[flag]
        assert gn == n
        assert abs(gcorr - float(np.corrcoef(q, p)[0, 1])) < 1e-6
        assert abs(gcov - float(np.cov(q, disc, ddof=1)[0, 1])) < 1e-6
        assert abs(gsd - float(np.std(p, ddof=1))) < 1e-6


def test_regex_extract_matches_python_re(spark):
    """Token extraction table vs python re over the same documents —
    corpus frequency AND document frequency."""
    import collections
    import re as _re

    from trafficteach_spark.operators.llm.text import _EXTRACT_PATTERN
    from trafficteach_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    got = {
        r["token"]: (r["n"], r["n_docs"])
        for r in Q["q73_regex_extract"](spark, sf).collect()
    }
    docs = load_table(spark, sf, "documents").select("doc_id", "text").collect()
    pat = _re.compile(_EXTRACT_PATTERN)
    n = collections.Counter()
    docsets = collections.defaultdict(set)
    for d in docs:
        if d["text"] is None:
            continue
        for tok in pat.findall(d["text"]):
            n[tok] += 1
            docsets[tok].add(d["doc_id"])
    assert got == {t: (n[t], len(docsets[t])) for t in n}
    assert len(got) > 0


# ---------- round-3d (q74-q76) ----------


def test_rank_distribution_matches_replay(spark):
    """ntile/percent_rank/cume_dist vs a python replay over the unique
    (value, event_id) ordering."""
    import collections

    from trafficteach_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    got = {
        r["event_id"]: (r["quartile"], r["pct_rank"], r["cume"])
        for r in Q["q74_rank_distribution"](spark, sf).collect()
    }
    events = load_table(spark, sf, "events").select(
        "event_id", "event_type", "value"
    ).collect()
    by_type = collections.defaultdict(list)
    for e in events:
        by_type[e["event_type"]].append(e)
    for grp in by_type.values():
        grp.sort(key=lambda e: (e["value"], e["event_id"]))
        n = len(grp)
        base, extra = divmod(n, 4)
        # ntile: first `extra` tiles get base+1 rows
        bounds = []
        for t in range(4):
            bounds.extend([t + 1] * (base + (1 if t < extra else 0)))
        for i, e in enumerate(grp):
            exp = (
                bounds[i],
                round(i / (n - 1), 6) if n > 1 else 0.0,
                round((i + 1) / n, 6),
            )
            assert got[e["event_id"]] == exp, e["event_id"]


def test_bm25_matches_python_replay(spark):
    """BM25 scores vs a direct python computation with the same
    constants; ordering and top-k cut included."""
    import math

    from trafficteach_spark.operators.llm.text import (
        _BM25_B, _BM25_K1, _BM25_QUERY, _BM25_TOPK,
    )
    from trafficteach_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    got = [(r["doc_id"], r["score"]) for r in Q["q75_bm25"](spark, sf).collect()]
    docs = [
        (d["doc_id"], d["text"].split(" "))
        for d in load_table(spark, sf, "documents").select("doc_id", "text").collect()
        if d["text"] is not None
    ]
    n_docs = len(docs)
    avgdl = sum(len(t) for _, t in docs) / n_docs
    dfs = [sum(1 for _, t in docs if q in t) for q in _BM25_QUERY]
    exp = []
    for doc_id, toks in docs:
        dl = len(toks)
        score = 0.0
        any_tf = 0
        for q, df in zip(_BM25_QUERY, dfs):
            tf = toks.count(q)
            any_tf += tf
            idf = math.log((n_docs - df + 0.5) / (df + 0.5) + 1.0)
            score += idf * (tf * (_BM25_K1 + 1.0)) / (
                tf + _BM25_K1 * (1.0 - _BM25_B + _BM25_B * dl / avgdl)
            )
        if any_tf > 0:
            exp.append((doc_id, round(score, 6)))
    exp.sort(key=lambda t: (-t[1], t[0]))
    exp = exp[:_BM25_TOPK]
    assert len(got) == len(exp)
    for (gid, gs), (eid, es) in zip(got, exp):
        assert gid == eid and abs(gs - es) < 1e-6, (gid, eid)


def test_set_ops_bag_multiplicity(spark):
    """EXCEPT ALL / INTERSECT ALL multiplicities vs per-customer year
    counts: surplus = max(n95-n96, 0), common = min(n95, n96)."""
    import collections

    from trafficteach_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    got = collections.defaultdict(dict)
    for r in Q["q76_set_ops_bag"](spark, sf).collect():
        got[r["kind"]][r["o_custkey"]] = r["n"]
    orders = load_table(spark, sf, "orders").select(
        "o_custkey", "o_orderdate"
    ).collect()
    n95, n96 = collections.Counter(), collections.Counter()
    for o in orders:
        if o["o_orderdate"].year == 1995:
            n95[o["o_custkey"]] += 1
        elif o["o_orderdate"].year == 1996:
            n96[o["o_custkey"]] += 1
    surplus = {c: n95[c] - n96[c] for c in n95 if n95[c] > n96[c]}
    common = {c: min(n95[c], n96[c]) for c in n95 if c in n96}
    assert got["surplus_1995"] == surplus
    assert got["common"] == common
    # multiplicity must actually differ from the distinct form somewhere
    assert any(n > 1 for n in surplus.values()) or any(n > 1 for n in common.values())


def test_approx_percentiles_within_rank_error(spark):
    """The t-digest answers must honor the documented guarantee: each
    returned value's rank in the group's sorted values lies within
    n/accuracy of the target rank — the invariant that substitutes for
    a DuckDB oracle on this engine-internal sketch."""
    import bisect
    import collections

    from trafficteach_spark.operators.analytics import _APPROX_ACCURACY, PCTS
    from trafficteach_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    got = {
        r["event_type"]: (r["n"], r["p50"], r["p90"], r["p99"])
        for r in Q["q77_approx_percentiles"](spark, sf).collect()
    }
    vals = collections.defaultdict(list)
    for r in load_table(spark, sf, "events").select("event_type", "value").collect():
        if r["value"] is not None:  # the sketch (and n) skip NULLs
            vals[r["event_type"]].append(r["value"])
    assert set(got) == set(vals)
    for etype, xs in vals.items():
        xs.sort()
        n = len(xs)
        gn, *answers = got[etype]
        assert gn == n
        eps_ranks = n / _APPROX_ACCURACY + 1  # +1 absorbs the p50 rounding
        for p, ans in zip(PCTS, answers):
            lo = bisect.bisect_left(xs, ans - 1e-6)
            hi = bisect.bisect_right(xs, ans + 1e-6)
            target = p * (n - 1)
            assert lo - eps_ranks <= target <= hi + eps_ranks, (etype, p, ans)


def test_id_gaps_ranges_match_replay(spark):
    """Per-stream gap ranges vs a python replay: each reported range
    must be exactly the missing ids between consecutive present ids."""
    import collections

    from trafficteach_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    got = {
        (r["event_type"], r["gap_start"], r["gap_end"]): r["n_missing"]
        for r in Q["q78_id_gaps"](spark, sf).collect()
    }
    ids = collections.defaultdict(list)
    for r in load_table(spark, sf, "events").select("event_type", "event_id").collect():
        ids[r["event_type"]].append(r["event_id"])
    expected = {}
    for t, xs in ids.items():
        xs.sort()
        for a, b in zip(xs, xs[1:]):
            if b - a > 1:
                expected[(t, a + 1, b - 1)] = b - a - 1
    assert got == expected
    assert len(expected) > 0  # interleaved counters guarantee gaps


def test_weighted_sample_matches_replay_and_is_weighted(spark):
    """The selection must equal the python replay of u/weight keys, and
    the sample must actually skew toward high-value orders (the
    property that distinguishes it from q08's uniform draw)."""
    from trafficteach_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    got = [r["o_orderkey"] for r in Q["q79_weighted_sample"](spark, sf).collect()]
    orders = load_table(spark, sf, "orders").select(
        "o_orderkey", "o_totalprice"
    ).collect()
    keyed = sorted(
        (((o["o_orderkey"] * 1103515245 + 12345) % 2147483648)
         / o["o_totalprice"], o["o_orderkey"])
        for o in orders
    )
    assert got == [k for _, k in keyed[:100]]
    # weighting bites: sampled mean price well above the population mean
    prices = {o["o_orderkey"]: o["o_totalprice"] for o in orders}
    pop_mean = sum(prices.values()) / len(prices)
    sample_mean = sum(prices[k] for k in got) / len(got)
    assert sample_mean > 1.2 * pop_mean


def test_feature_bins_sketch_is_equi_depth(spark):
    """q83_feature_bins (the primary sketch path) must deliver what
    equi-depth means without the sort: 10 bins per category, each within
    25% of n/10, with ordered disjoint [lo, hi] ranges — and its
    per-category totals must equal the exact NTILE twin's."""
    from tests.conftest import SMOKE_SF_DIR
    from trafficteach_spark import registry

    qs = registry.queries()
    rows = qs["q83_feature_bins"](spark, SMOKE_SF_DIR).collect()
    exact = qs["q83_feature_bins_exact"](spark, SMOKE_SF_DIR).collect()
    by_flag: dict[str, list] = {}
    for r in rows:
        by_flag.setdefault(r.l_returnflag, []).append(r)
    assert set(by_flag) == {r.l_returnflag for r in exact}
    for flag, bins in by_flag.items():
        bins.sort(key=lambda r: r.decile)
        assert [b.decile for b in bins] == list(range(1, 11))
        total = sum(b.n for b in bins)
        assert total == sum(r.n for r in exact if r.l_returnflag == flag)
        for b in bins:
            assert abs(b.n - total / 10) <= 0.25 * total / 10, (flag, b)
        for prev, nxt in zip(bins, bins[1:]):
            assert prev.lo <= prev.hi <= nxt.lo <= nxt.hi, (flag, prev, nxt)


def test_dedup_memos_are_dataset_scoped(spark):
    """The materialized pair/cluster frames are keyed by (app, sf_dir):
    two datasets in one session must not cross-contaminate, and repeated
    invocations must be value-stable (a memo bug here would silently
    poison q46/q88/q91 for every later dataset in the session)."""
    from trafficteach_spark.operators.llm import dedup

    sf_small = "/root/testdata/sf0.001"
    sf_big = "/root/testdata/sf0.01"
    small_1 = {tuple(r) for r in dedup.q46_dedup_clusters(spark, sf_small).collect()}
    big = {tuple(r) for r in dedup.q46_dedup_clusters(spark, sf_big).collect()}
    small_2 = {tuple(r) for r in dedup.q46_dedup_clusters(spark, sf_small).collect()}
    assert small_1 == small_2
    # The memoized result must equal a fresh no-memo computation of the
    # SAME dataset (catches both staleness and cross-dataset bleed; the
    # two fixtures happen to share a row count, so sizes can't be the
    # discriminator).
    fresh_big = {
        tuple(r)
        for r in dedup.dedup_clusters(
            spark, sf_big, pairs=dedup.near_dup_pairs(spark, sf_big)
        ).collect()
    }
    assert big == fresh_big
    # and the memo actually holds separate entries per sf_dir
    assert dedup._memo_key(spark, sf_small) in dedup._PAIRS_MEMO
    assert dedup._memo_key(spark, sf_big) in dedup._PAIRS_MEMO


def test_injected_pairs_override_is_used(spark):
    """dedup_clusters(pairs=...) must cluster the INJECTED frame, not
    recompute its own — the whole point of the chain parameter."""
    from trafficteach_spark.operators.llm import dedup
    from trafficteach_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    docs = [r.doc_id for r in load_table(spark, sf, "documents").select("doc_id").orderBy("doc_id").limit(3).collect()]
    a, b, c = docs
    fake = spark.createDataFrame([(a, b), (b, c)], "doc_a long, doc_b long")
    out = {
        (r.doc_id, r.canonical_id)
        for r in dedup.dedup_clusters(spark, sf, pairs=fake).collect()
        if r.doc_id in (a, b, c)
    }
    assert out == {(a, a), (b, a), (c, a)}


def test_ewma_fold_matches_python_reference(spark):
    """q92's HOF fold must equal the textbook recurrence computed in
    Python over an arbitrary per-user series (pins the seed convention
    y0 = x0 and the fold order; the oracle pins the same thing
    cross-engine, this pins it against an independent implementation)."""
    import datetime as dt

    from trafficteach_spark.operators.timeseries import EWMA_ALPHA, q92_ewma

    values = [3.0, -1.5, 0.0, 7.25, 2.0, 2.0, -0.125]
    rows = [
        (
            1,
            100 + i,
            dt.datetime(2024, 1, 1, 0, i),
            v,
            "{}",
            "view",
        )
        for i, v in enumerate(values)
    ]
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            [(r[1], r[2], r[0], r[5], r[3], r[4]) for r in rows],
            "event_id long, ts timestamp_ntz, user_id long, event_type string,"
            " value double, props string",
        ).write.parquet(f"{d}/events.parquet")
        got = {
            r.event_id: r.ewma
            for r in q92_ewma(spark, d).collect()
        }
    expect = []
    for v in values:
        prev = expect[-1] if expect else v
        expect.append(v if not expect else EWMA_ALPHA * v + (1 - EWMA_ALPHA) * prev)
    for i, e in enumerate(expect):
        assert got[100 + i] == round(e, 6), (i, got[100 + i], e)


# ---------- round-5 additions: entropy / zipf / psi / profile / overlap ----------


def test_token_entropy_matches_python(spark, tiny_sf_dir):
    import math
    from collections import Counter

    from tests.conftest import TINY_DOCS

    got = {r["doc_id"]: r for r in Q["q94_token_entropy"](spark, tiny_sf_dir).collect()}
    for doc_id, text, *_ in TINY_DOCS:
        toks = text.split(" ")
        cnt = Counter(toks)
        n = len(toks)
        expect = -sum((c / n) * math.log2(c / n) for c in cnt.values())
        assert got[doc_id]["n_tokens"] == n
        assert got[doc_id]["n_distinct"] == len(cnt)
        assert abs(got[doc_id]["entropy"] - round(expect, 6)) < 1e-6, doc_id
    # all-unique tokens -> max entropy log2(k); doc 3 has 8 unique tokens
    assert abs(got[3]["entropy"] - 3.0) < 1e-6


def test_zipf_slope_sign_and_bounds(spark, tiny_sf_dir):
    r = Q["q95_zipf_slope"](spark, tiny_sf_dir).collect()[0]
    # frequency is non-increasing in rank -> fitted slope can't be positive
    assert r["zipf_slope"] <= 0
    assert 0.0 <= r["zipf_r2"] <= 1.0
    assert r["n_terms"] > 0


def test_psi_drift_invariants(spark, tiny_sf_dir):
    out = {r["event_type"]: r for r in Q["q96_psi_drift"](spark, tiny_sf_dir).collect()}
    from tests.conftest import TINY_EVENTS

    per_type = {}
    for _, _, _, et, _, _ in TINY_EVENTS:
        per_type[et] = per_type.get(et, 0) + 1
    for et, r in out.items():
        # PSI is a sum of (p-q)ln(p/q) terms, each >= 0
        assert r["psi"] >= 0, et
        # halves partition the rows
        assert r["n_first"] + r["n_second"] == per_type[et]
    # tiny fixture: only the Feb 1 'view' row falls in the second half
    assert out["view"]["n_second"] == 1
    assert out["click"]["n_second"] == 0


def test_psi_zero_for_identical_halves(spark, tmp_path):
    # a value distribution identical across the split must score PSI == 0
    import datetime as dt

    from trafficteach_spark import schemas

    def ns(day):
        return int(
            dt.datetime(2024, 1, day, tzinfo=dt.timezone.utc).timestamp() * 1_000_000_000
        )

    rows_ = []
    for i, day in enumerate((10, 20)):  # one event per half, same value
        rows_.append((i, ns(day), 1, "click", 42.0, "{}"))
    out = tmp_path / "events.parquet"
    spark.createDataFrame(rows_, schemas.EVENTS_PHYSICAL).coalesce(1).write.parquet(str(out))
    r = Q["q96_psi_drift"](spark, str(tmp_path)).collect()
    assert len(r) == 1
    assert r[0]["psi"] == 0.0


def test_data_profile_known_stats(spark, tiny_sf_dir):
    prof = {r["col_name"]: r for r in Q["q97_data_profile"](spark, tiny_sf_dir).collect()}
    assert set(prof) >= {"l_orderkey", "l_quantity", "l_returnflag", "l_shipdate"}
    for r in prof.values():
        assert r["n_rows"] == 4 and r["n_null"] == 0
    q = prof["l_quantity"]
    assert (q["min_num"], q["max_num"], q["avg_num"]) == (1.0, 4.0, 2.5)
    assert q["min_str"] is None and q["max_str"] is None
    rf = prof["l_returnflag"]
    assert (rf["min_str"], rf["max_str"], rf["n_distinct"]) == ("A", "R", 3)
    assert rf["min_num"] is None
    assert prof["l_orderkey"]["n_distinct"] == 3


def test_source_overlap_matches_python_sets(spark, tiny_sf_dir):
    from tests.conftest import TINY_DOCS

    def shingles(text):
        w = text.split(" ")
        return {" ".join(w[i : i + 3]) for i in range(len(w) - 2)}

    per_src = {}
    for _, text, _, src, _ in TINY_DOCS:
        per_src.setdefault(src, set()).update(shingles(text))
    inter = per_src["books"] & per_src["web"]
    union = per_src["books"] | per_src["web"]
    got = Q["q98_source_overlap"](spark, tiny_sf_dir).collect()
    assert len(got) == 1  # only one source pair shares a shingle
    r = got[0]
    assert (r["src_a"], r["src_b"]) == ("books", "web")
    assert r["n_common"] == len(inter)
    assert (r["n_a"], r["n_b"]) == (len(per_src["books"]), len(per_src["web"]))
    assert abs(r["jaccard"] - round(len(inter) / len(union), 6)) < 1e-9


def test_dup_rate_by_source_counts_non_canonicals(spark, tiny_sf_dir):
    out = {r["source"]: r for r in Q["q99_dup_rate_by_source"](spark, tiny_sf_dir).collect()}
    # cluster {0,1,2} canonical 0; docs 3,4 singletons
    # web holds docs 0,1,3,4 -> one dupe (doc 1); books holds doc 2 -> dupe
    assert out["web"]["n_docs"] == 4 and out["web"]["n_dupes"] == 1
    assert out["web"]["n_clusters"] == 3  # canonicals 0, 3, 4
    assert out["books"]["n_docs"] == 1 and out["books"]["n_dupes"] == 1
    assert out["books"]["dup_rate"] == 1.0


def test_scd2_history_matches_python(spark, tiny_sf_dir):
    from tests.conftest import TINY_EVENTS

    got = Q["q100_scd2_history"](spark, tiny_sf_dir).collect()
    # independent Python reference: run-length collapse per user
    per_user = {}
    for eid, ns, uid, et, _, _ in sorted(TINY_EVENTS, key=lambda r: (r[2], r[1], r[0])):
        per_user.setdefault(uid, []).append((ns, et))
    expect = {}
    for uid, rows_ in per_user.items():
        versions = []
        for ns, et in rows_:
            if not versions or versions[-1]["event_type"] != et:
                versions.append({"event_type": et, "valid_from_ns": ns, "n_events": 1})
            else:
                versions[-1]["n_events"] += 1
        expect[uid] = versions
    got_by_user = {}
    for r in sorted(got, key=lambda r: (r["user_id"], r["version"])):
        got_by_user.setdefault(r["user_id"], []).append(r)
    assert set(got_by_user) == set(expect)
    for uid, versions in expect.items():
        rows_ = got_by_user[uid]
        assert len(rows_) == len(versions), uid
        for i, (r, e) in enumerate(zip(rows_, versions)):
            # versions are 1-based: the first row's NULL lag counts as a change
            assert r["version"] == i + 1, (uid, i)
            assert r["event_type"] == e["event_type"]
            assert r["n_events"] == e["n_events"]
            # intervals chain: valid_to == next version's valid_from
            if i + 1 < len(rows_):
                assert r["valid_to"] == rows_[i + 1]["valid_from"]
            else:
                assert r["valid_to"] is None


def test_bpe_train_matches_python_reference(spark, tiny_sf_dir):
    from collections import Counter

    from tests.conftest import TINY_DOCS
    from trafficteach_spark.operators.llm.corpus import bpe_train

    merges, vocab = bpe_train(spark, tiny_sf_dir, n_merges=8, min_pair_count=2)

    # pure-Python reference: identical tie rule (count desc, pair asc)
    wc = Counter()
    for _, text, *_ in TINY_DOCS:
        for w in text.lower().split():
            wc[w] += 1
    syms = {w: tuple(list(w) + ["</w>"]) for w in wc}
    expect_merges = []
    for _ in range(8):
        pc = Counter()
        for w, n in wc.items():
            s = syms[w]
            for i in range(len(s) - 1):
                pc[(s[i], s[i + 1])] += n
        if not pc:
            break
        best = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        (a, b), n = best
        if n < 2:
            break
        expect_merges.append((a, b, n))
        for w in syms:
            s, out, i = syms[w], [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            syms[w] = tuple(out)
    assert merges == expect_merges, (merges, expect_merges)
    got_syms = {r["w"]: tuple(r["syms"]) for r in vocab.collect()}
    assert got_syms == {w: s for w, s in syms.items()}


def test_incremental_rollup_merges_base_and_delta(spark, tiny_sf_dir):
    import datetime as dt

    from tests.conftest import TINY_EVENTS
    from trafficteach_spark.operators import analytics

    got = {
        (r["event_type"], r["day"]): r
        for r in Q["q101_incremental_rollup"](spark, tiny_sf_dir).collect()
    }
    # independent reference: full recompute in Python
    expect = {}
    for _, ns, _, et, val, _ in TINY_EVENTS:
        day = dt.datetime.fromtimestamp(ns / 1e9, dt.timezone.utc).date()
        e = expect.setdefault((et, day), {"n": 0, "s": 0.0, "mn": val, "mx": val})
        e["n"] += 1
        e["s"] += val
        e["mn"] = min(e["mn"], val)
        e["mx"] = max(e["mx"], val)
    assert set(got) == set(expect)
    for k, e in expect.items():
        r = got[k]
        assert r["n"] == e["n"], k
        assert abs(r["sum_value"] - round(e["s"], 6)) < 1e-9
        assert (r["min_value"], r["max_value"]) == (e["mn"], e["mx"])
        assert abs(r["avg_value"] - round(e["s"] / e["n"], 6)) < 1e-9
    # the base memo is materialized once per (app, dataset) and reused
    key = (spark.sparkContext.applicationId, tiny_sf_dir)
    base1 = analytics._ROLLUP_BASE_MEMO[key]
    Q["q101_incremental_rollup"](spark, tiny_sf_dir)
    assert analytics._ROLLUP_BASE_MEMO[key] is base1


def test_misra_gries_bounds_vs_exact(spark):
    # sketch guarantees vs exact counts at sf0.001, several k values
    from pyspark.sql import functions as F

    from trafficteach_spark.operators.sketches import misra_gries
    from trafficteach_spark.sources.tables import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    exact = {r["user_id"]: r["n"] for r in ev.groupBy("user_id").agg(F.count("*").alias("n")).collect()}
    n = sum(exact.values())
    for k in (5, 20, 100):
        got = {r["key"]: r["estimate"] for r in misra_gries(ev, "user_id", k).collect()}
        assert len(got) <= k
        for key, est in got.items():
            assert est <= exact[key], (k, key)
            assert exact[key] - est <= n / (k + 1) + 1e-9, (k, key)
        # completeness: every key with freq > n/(k+1) must be present
        for key, f in exact.items():
            if f > n / (k + 1):
                assert key in got, (k, key, f)


def test_misra_gries_exact_when_k_exceeds_cardinality(spark, tiny_sf_dir):
    from pyspark.sql import functions as F

    from trafficteach_spark.operators.sketches import misra_gries
    from trafficteach_spark.sources.tables import load_table

    ev = load_table(spark, tiny_sf_dir, "events")
    exact = {r["user_id"]: r["n"] for r in ev.groupBy("user_id").agg(F.count("*").alias("n")).collect()}
    got = {r["key"]: r["estimate"] for r in misra_gries(ev, "user_id", 100).collect()}
    assert got == exact  # no compression ever triggers -> exact counts


def test_corr_matrix_matches_numpy(spark, tiny_sf_dir):
    import numpy as np

    from tests.conftest import TINY_LINEITEM
    from trafficteach_spark.operators.analytics import _CORR_COLS

    got = {(r["col_a"], r["col_b"]): r for r in Q["q103_corr_matrix"](spark, tiny_sf_dir).collect()}
    assert len(got) == len(_CORR_COLS) * (len(_CORR_COLS) - 1) // 2
    from trafficteach_spark import schemas

    cols = {f.name: i for i, f in enumerate(schemas.LINEITEM.fields)}
    data = np.array(
        [[float(row[cols[c]]) for c in _CORR_COLS] for row in TINY_LINEITEM]
    )
    for (a, b), r in got.items():
        ia, ib = _CORR_COLS.index(a), _CORR_COLS.index(b)
        sa, sb = data[:, ia], data[:, ib]
        if sa.std() == 0 or sb.std() == 0:
            assert r["corr"] is None, (a, b)
        else:
            expect = float(np.corrcoef(sa, sb)[0, 1])
            assert abs(r["corr"] - round(expect, 6)) < 2e-6, (a, b, r["corr"], expect)
        assert r["n"] == len(data)


def test_fk_audit_detects_orphans(spark, tiny_sf_dir):
    got = {
        (r["child_table"], r["fk_col"]): r
        for r in Q["q104_fk_audit"](spark, tiny_sf_dir).collect()
    }
    assert len(got) == 8
    # tiny events reference users 1..4 but customers are only {1, 2}
    ev = got[("events", "user_id")]
    from tests.conftest import TINY_EVENTS

    orphan_rows = sum(1 for e in TINY_EVENTS if e[2] not in (1, 2))
    assert ev["n_child"] == len(TINY_EVENTS)
    assert ev["n_orphan"] == orphan_rows and orphan_rows > 0
    assert abs(ev["orphan_rate"] - round(orphan_rows / len(TINY_EVENTS), 6)) < 1e-9
    # tiny lineitem/orders/nation chains are consistent
    assert got[("lineitem", "l_orderkey")]["n_orphan"] == 0
    assert got[("nation", "n_regionkey")]["n_orphan"] == 0


def test_fk_audit_clean_on_driver_fixture(spark):
    # the generated TPC-H-ish tables must be referentially consistent on
    # every relation except the synthetic events->customer link
    rows = Q["q104_fk_audit"](spark, "/root/testdata/sf0.001").collect()
    for r in rows:
        if (r["child_table"], r["parent_table"]) != ("events", "customer"):
            assert r["n_orphan"] == 0, r


def test_bpe_encode_reproduces_training_segmentation(spark, tiny_sf_dir):
    # rank-based encode on the training corpus must reproduce the
    # trained symbol arrays word-for-word (merged pairs never re-form)
    from trafficteach_spark.operators.llm.corpus import bpe_encode, bpe_train
    from trafficteach_spark.sources.tables import load_table

    merges, vocab = bpe_train(spark, tiny_sf_dir, n_merges=8, min_pair_count=2)
    trained = {r["w"]: list(r["syms"]) for r in vocab.collect()}
    docs = load_table(spark, tiny_sf_dir, "documents")
    out = bpe_encode(docs, "text", merges).select("doc_id", "text", "tokens").collect()
    assert out
    for r in out:
        expect = [s for w in r["text"].lower().split() for s in trained[w]]
        assert list(r["tokens"]) == expect, r["doc_id"]


def test_cohort_retention_matches_python(spark, tiny_sf_dir):
    import datetime as dt

    from tests.conftest import TINY_EVENTS

    got = {
        (r["cohort_wk"], r["week_offset"]): r
        for r in Q["q105_cohort_retention"](spark, tiny_sf_dir).collect()
    }
    # python reference: ISO-Monday week truncation like both engines
    def week_of(ns):
        d = dt.datetime.fromtimestamp(ns / 1e9, dt.timezone.utc).date()
        return d - dt.timedelta(days=d.weekday())

    user_weeks = {}
    for _, ns, uid, _, _, _ in TINY_EVENTS:
        user_weeks.setdefault(uid, set()).add(week_of(ns))
    expect = {}
    for uid, wks in user_weeks.items():
        first = min(wks)
        for w in wks:
            key = (first, (w - first).days // 7)
            expect[key] = expect.get(key, 0) + 1
    assert set(got) == set(expect)
    for key, n in expect.items():
        r = got[key]
        assert r["n_active"] == n, key
        size = expect[(key[0], 0)]
        assert r["cohort_size"] == size
        assert abs(r["retention"] - round(n / size, 6)) < 1e-9
    # offset-0 rows retain 100% by construction
    for key, r in got.items():
        if key[1] == 0:
            assert r["retention"] == 1.0


def test_session_concurrency_matches_bruteforce(spark, tiny_sf_dir):
    import datetime as dt

    from tests.conftest import TINY_EVENTS

    got = {r["day"]: r["max_concurrent"] for r in Q["q106_session_concurrency"](spark, tiny_sf_dir).collect()}

    # brute force: sessionize per user (30-min gap), then evaluate
    # concurrency at every start instant and every midnight
    GAP = dt.timedelta(minutes=30)
    per_user = {}
    for _, ns, uid, _, _, _ in sorted(TINY_EVENTS, key=lambda e: e[1]):
        t = dt.datetime.fromtimestamp(ns / 1e9, dt.timezone.utc).replace(tzinfo=None)
        sessions = per_user.setdefault(uid, [])
        if sessions and t - sessions[-1][1] < GAP:
            sessions[-1][1] = t
        else:
            sessions.append([t, t])
    sess = [(s, e + GAP) for lst in per_user.values() for s, e in lst]
    lo = min(s for s, _ in sess).date()
    hi = max(e for _, e in sess).date()
    days = [lo + dt.timedelta(days=i) for i in range((hi - lo).days + 1)]
    instants = [s for s, _ in sess] + [dt.datetime.combine(d, dt.time()) for d in days]
    expect = {d: 0 for d in days}
    for t in instants:
        c = sum(1 for s, e in sess if s <= t < e)
        expect[t.date()] = max(expect[t.date()], c)
    assert got == expect


def test_rolling_active_users_matches_python(spark, tiny_sf_dir):
    import datetime as dt

    from tests.conftest import TINY_EVENTS

    got = {r["day"]: r for r in Q["q107_rolling_active_users"](spark, tiny_sf_dir).collect()}
    ud = set()
    for _, ns, uid, _, _, _ in TINY_EVENTS:
        ud.add((uid, dt.datetime.fromtimestamp(ns / 1e9, dt.timezone.utc).date()))
    lo = min(d for _, d in ud)
    hi = max(d for _, d in ud)
    days = [lo + dt.timedelta(days=i) for i in range((hi - lo).days + 1)]
    assert set(got) == set(days)
    for day in days:
        dau = len({u for u, d in ud if d == day})
        wau = len({u for u, d in ud if day - dt.timedelta(days=6) <= d <= day})
        r = got[day]
        assert (r["dau"], r["wau"]) == (dau, wau), day
        if wau:
            assert abs(r["stickiness"] - round(dau / wau, 6)) < 1e-9


def test_time_to_convert_matches_python(spark, tiny_sf_dir):
    import datetime as dt

    from tests.conftest import TINY_EVENTS

    r = Q["q108_time_to_convert"](spark, tiny_sf_dir).collect()[0]
    signup, purchase = {}, {}
    for _, ns, uid, et, _, _ in sorted(TINY_EVENTS, key=lambda e: e[1]):
        t = ns / 1e9
        if et == "signup":
            signup.setdefault(uid, t)
    for _, ns, uid, et, _, _ in sorted(TINY_EVENTS, key=lambda e: e[1]):
        t = ns / 1e9
        if et == "purchase" and uid in signup and t >= signup[uid]:
            purchase.setdefault(uid, t)
    lats = sorted(purchase[u] - signup[u] for u in purchase)
    assert r["n_signups"] == len(signup)
    assert r["n_converted"] == len(lats)
    if lats:
        assert abs(r["min_sec"] - round(lats[0], 6)) < 1e-6
        assert abs(r["max_sec"] - round(lats[-1], 6)) < 1e-6
        assert abs(r["conversion_rate"] - round(len(lats) / len(signup), 6)) < 1e-9


def test_transition_matrix_matches_python(spark, tiny_sf_dir):
    from tests.conftest import TINY_EVENTS

    got = {(r["src"], r["dst"]): r for r in Q["q109_transition_matrix"](spark, tiny_sf_dir).collect()}
    per_user = {}
    for eid, ns, uid, et, _, _ in sorted(TINY_EVENTS, key=lambda e: (e[1], e[0])):
        per_user.setdefault(uid, []).append(et)
    pairs = {}
    for seq in per_user.values():
        for a, b in zip(seq, seq[1:]):
            pairs[(a, b)] = pairs.get((a, b), 0) + 1
    assert set(got) == set(pairs)
    row_totals = {}
    for (a, _), n in pairs.items():
        row_totals[a] = row_totals.get(a, 0) + n
    for k, n in pairs.items():
        assert got[k]["n"] == n, k
        assert abs(got[k]["p"] - round(n / row_totals[k[0]], 6)) < 1e-9
    # probabilities are a distribution per src row
    for src, tot in row_totals.items():
        s = sum(r["n"] for (a, _), r in got.items() if a == src)
        assert s == tot


def test_ab_lift_matches_python(spark, tiny_sf_dir):
    import hashlib
    import math

    from tests.conftest import TINY_EVENTS

    r = Q["q110_ab_lift"](spark, tiny_sf_dir).collect()[0]
    conv, variant = {}, {}
    for _, _, uid, et, _, _ in TINY_EVENTS:
        h = int(hashlib.md5(str(uid).encode()).hexdigest()[:15], 16) % 2
        variant[uid] = h
        conv[uid] = max(conv.get(uid, 0), 1 if et == "purchase" else 0)
    n_a = sum(1 for u in variant if variant[u] == 0)
    n_b = sum(1 for u in variant if variant[u] == 1)
    c_a = sum(conv[u] for u in variant if variant[u] == 0)
    c_b = sum(conv[u] for u in variant if variant[u] == 1)
    assert (r["n_a"], r["conv_a"], r["n_b"], r["conv_b"]) == (n_a, c_a, n_b, c_b)
    if n_a and n_b:
        ra, rb = c_a / n_a, c_b / n_b
        assert abs(r["lift"] - round(rb - ra, 6)) < 1e-9
        p = (c_a + c_b) / (n_a + n_b)
        se = math.sqrt(p * (1 - p) * (1 / n_a + 1 / n_b))
        if se > 0:
            assert abs(r["z"] - round((rb - ra) / se, 6)) < 1e-6
        else:
            assert r["z"] is None


def test_misra_gries_property_random_streams(spark):
    # randomized (seeded) streams: MG guarantees must hold for any data
    import random

    from trafficteach_spark.operators.sketches import misra_gries

    rng = random.Random(42)
    for trial in range(3):
        n = 5000
        # zipf-ish skew: a few heavy keys + uniform tail
        keys = [rng.choice([1, 1, 1, 2, 2, 3]) if rng.random() < 0.5
                else rng.randrange(1000) for _ in range(n)]
        df = spark.createDataFrame([(k,) for k in keys], "key: long").repartition(7)
        exact = {}
        for k in keys:
            exact[k] = exact.get(k, 0) + 1
        for k_param in (3, 25):
            got = {r["key"]: r["estimate"] for r in misra_gries(df, "key", k_param).collect()}
            assert len(got) <= k_param
            for key, est in got.items():
                assert est <= exact[key]
                assert exact[key] - est <= n / (k_param + 1) + 1e-9
            for key, f in exact.items():
                if f > n / (k_param + 1):
                    assert key in got, (trial, k_param, key, f)


def test_fk_audit_empty_child_reports_zero_not_null(spark, tiny_sf_dir, tmp_path):
    # contract: an empty child frame (all-NULL FK) reports n_child = 0,
    # n_orphan = 0, orphan_rate NULL — never NULL counts
    import shutil

    from trafficteach_spark import schemas

    for name in ("documents", "embeddings", "region", "nation", "supplier",
                 "customer", "part", "orders", "lineitem"):
        shutil.copytree(f"{tiny_sf_dir}/{name}.parquet", tmp_path / f"{name}.parquet")
    rows_ = [(1, 1_700_000_000_000_000_000, None, "click", 1.0, "{}")]
    spark.createDataFrame(rows_, schemas.EVENTS_PHYSICAL).coalesce(1).write.parquet(
        str(tmp_path / "events.parquet")
    )
    got = {r["child_table"]: r for r in Q["q104_fk_audit"](spark, str(tmp_path)).collect()}
    ev = got["events"]
    assert (ev["n_child"], ev["n_orphan"]) == (0, 0)
    assert ev["orphan_rate"] is None


def test_fulfillment_lag_matches_python(spark, tiny_sf_dir):
    from tests.conftest import TINY_LINEITEM, TINY_ORDERS

    got = {r["o_orderpriority"]: r for r in Q["q111_fulfillment_lag"](spark, tiny_sf_dir).collect()}
    last_ship = {}
    for row in TINY_LINEITEM:
        ok, ship = row[0], row[10]
        if ok not in last_ship or ship > last_ship[ok]:
            last_ship[ok] = ship
    per_prio = {}
    for ok, _, _, _, odate, prio in TINY_ORDERS:
        if ok in last_ship:
            per_prio.setdefault(prio, []).append((last_ship[ok] - odate).days)
    assert set(got) == set(per_prio)
    for prio, lags in per_prio.items():
        r = got[prio]
        assert r["n_orders"] == len(lags)
        assert abs(r["avg_days"] - round(sum(lags) / len(lags), 6)) < 1e-9


def test_token_entropy_property_random_docs(spark, tmp_path):
    # seeded random docs: the run-length entropy fold must match an
    # independent Counter-based reference for arbitrary token streams,
    # including single-token and all-identical extremes
    import math
    import random
    from collections import Counter

    from trafficteach_spark import schemas

    rng = random.Random(7)
    vocab = ["a", "b", "cc", "ddd", "e"]
    docs = []
    texts = {}
    for i in range(40):
        n = rng.choice([1, 2, 3, 10, 50])
        toks = (["a"] * n if i % 10 == 0
                else [rng.choice(vocab) for _ in range(n)])
        text = " ".join(toks)
        texts[i] = toks
        docs.append((i, text, "en", "web", 0))
    spark.createDataFrame(docs, schemas.DOCUMENTS).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "documents.parquet"))
    got = {r["doc_id"]: r for r in Q["q94_token_entropy"](spark, str(tmp_path)).collect()}
    assert set(got) == set(texts)
    for i, toks in texts.items():
        cnt = Counter(toks)
        n = len(toks)
        expect = -sum((c / n) * math.log2(c / n) for c in cnt.values())
        assert got[i]["n_tokens"] == n
        assert got[i]["n_distinct"] == len(cnt)
        assert abs(got[i]["entropy"] - round(expect, 6)) < 2e-6, i


def test_scd2_property_random_streams(spark, tmp_path):
    # seeded random event streams: version chains must match a
    # run-length reference for arbitrary interleavings
    import datetime as dt
    import random

    from trafficteach_spark import schemas

    rng = random.Random(11)
    rows_ = []
    eid = 0
    for uid in range(1, 6):
        t = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
        for _ in range(rng.randrange(1, 30)):
            t += dt.timedelta(minutes=rng.randrange(1, 300))
            rows_.append(
                (eid, int(t.timestamp() * 1e9), uid,
                 rng.choice(["view", "click", "purchase"]), 1.0, "{}")
            )
            eid += 1
    spark.createDataFrame(rows_, schemas.EVENTS_PHYSICAL).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "events.parquet"))
    got = {}
    for r in Q["q100_scd2_history"](spark, str(tmp_path)).collect():
        got.setdefault(r["user_id"], []).append(r)
    per_user = {}
    for e, ns, uid, et, _, _ in sorted(rows_, key=lambda r: (r[2], r[1], r[0])):
        per_user.setdefault(uid, []).append(et)
    for uid, seq in per_user.items():
        runs = []
        for et in seq:
            if runs and runs[-1][0] == et:
                runs[-1][1] += 1
            else:
                runs.append([et, 1])
        rows_u = sorted(got[uid], key=lambda r: r["version"])
        assert len(rows_u) == len(runs), uid
        for i, (r, (et, n)) in enumerate(zip(rows_u, runs)):
            assert (r["event_type"], r["n_events"], r["version"]) == (et, n, i + 1)
        assert rows_u[-1]["valid_to"] is None


def test_incremental_dedup_verdicts_on_tiny(spark, tiny_sf_dir):
    """TINY_DOCS: doc 0 is the only incoming doc (doc_id % 20 == 0); its
    corpus holds an exact dup (doc 2, J=1.0) and a near-dup (doc 1,
    6 shared of 8 union shingles = 0.75)."""
    rows = {r["doc_id"]: r for r in Q["q112_incremental_dedup"](spark, tiny_sf_dir).collect()}
    assert set(rows) == {0}
    r = rows[0]
    assert r["n_dups"] == 2
    assert r["best_jaccard"] == 1.0
    assert r["is_new"] == 0


def test_incremental_dedup_short_doc_admits_trivially(spark, tmp_path):
    """A doc too short to shingle has no candidates and must still get a
    verdict row: is_new=1, n_dups=0, best_jaccard NULL (the left join)."""
    from trafficteach_spark import schemas

    docs = [
        (1, "a b c d e", "en", "web", 9),     # corpus
        (20, "zz", "en", "web", 2),            # incoming, unshingleable
        (40, "a b c d e", "en", "web", 9),     # incoming, exact copy
    ]
    spark.createDataFrame(docs, schemas.DOCUMENTS).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "documents.parquet"))
    rows = {r["doc_id"]: r for r in Q["q112_incremental_dedup"](spark, str(tmp_path)).collect()}
    assert set(rows) == {20, 40}
    assert rows[20]["is_new"] == 1 and rows[20]["n_dups"] == 0
    assert rows[20]["best_jaccard"] is None
    assert rows[40]["is_new"] == 0 and rows[40]["n_dups"] == 1
    assert rows[40]["best_jaccard"] == 1.0


def test_linear_attribution_conserves_purchase_value(spark):
    """Credit conservation: summed credit across views equals the summed
    value of every purchase that has >= 1 attributable view (each
    purchase's value is split, never duplicated or lost)."""
    sf = "/root/testdata/sf0.001"
    pairs = Q["q68_attribution_join"](spark, sf)
    expected = (
        pairs.select("purchase_id", "purchase_value")
        .distinct()
        .agg(F.sum("purchase_value"))
        .collect()[0][0]
    )
    got = (
        Q["q113_linear_attribution"](spark, sf)
        .agg(F.sum("credit"))
        .collect()[0][0]
    )
    n_rows = Q["q113_linear_attribution"](spark, sf).count()
    # per-view ROUND(6) can drift the sum by <= n_rows * 5e-7
    assert abs(got - expected) <= 5e-7 * max(n_rows, 1), (got, expected)


def test_snapshot_diff_counts_match_synthesis_rules(spark):
    """The four kind counts must equal what the deterministic synthesis
    implies, computed independently from the raw orders table."""
    sf = "/root/testdata/sf0.001"
    from trafficteach_spark.sources.tables import load_table

    o = load_table(spark, sf, "orders")
    removed = o.where(F.col("o_orderkey") % 17 == 3).count()
    added = o.where(F.col("o_orderkey") % 13 == 5).count()
    changed = o.where(
        (F.col("o_orderkey") % 17 != 3)
        & (F.col("o_orderkey") % 10 == 0)
        & (F.col("o_orderstatus") != "R")
    ).count()
    unchanged = o.where(F.col("o_orderkey") % 17 != 3).count() - changed
    got = {r["kind"]: r["n_rows"] for r in Q["q114_snapshot_diff"](spark, sf).collect()}
    assert got == {
        "removed": removed,
        "added": added,
        "changed": changed,
        "unchanged": unchanged,
    }, got


def test_rolling_active_sketch_tracks_exact(spark):
    """q115 (HLL sketch merge) must agree with exact q107 within HLL
    error (lgK=14 -> well under 1%; exact at fixture cardinalities) and
    produce the same calendar frame."""
    sf = "/root/testdata/sf0.001"
    exact = {r["day"]: r for r in Q["q107_rolling_active_users"](spark, sf).collect()}
    approx = {r["day"]: r for r in Q["q115_rolling_active_sketch"](spark, sf).collect()}
    assert set(exact) == set(approx)
    for day, e in exact.items():
        a = approx[day]
        for c in ("dau", "wau"):
            if e[c] == 0:
                assert a[c] == 0, (day, c)
            else:
                assert abs(a[c] - e[c]) / e[c] <= 0.01, (day, c, a[c], e[c])


def test_locf_gap_fill_semantics(spark, tmp_path):
    """Hand-built stream: type 'a' observes at hours 0 and 3, so hours
    1-2 carry hour 0's average; type 'b' first observes at hour 2, so
    its hours 0-1 are LEADING gaps with NULL locf."""
    import datetime as dt

    from trafficteach_spark import schemas

    def ns(h, m=0):
        return int(dt.datetime(2024, 1, 1, h, m, tzinfo=dt.timezone.utc).timestamp() * 1e9)

    rows = [
        (1, ns(0), 1, "a", 10.0, "{}"),
        (2, ns(0, 30), 1, "a", 20.0, "{}"),   # hour-0 avg = 15
        (3, ns(3), 1, "a", 40.0, "{}"),
        (4, ns(2), 2, "b", 7.0, "{}"),
    ]
    spark.createDataFrame(rows, schemas.EVENTS_PHYSICAL).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "events.parquet"))
    got = {
        (r["event_type"], r["hr"].hour): r
        for r in Q["q116_gap_fill_locf"](spark, str(tmp_path)).collect()
    }
    assert len(got) == 8  # 2 types x hours 0..3
    assert got[("a", 0)]["avg_value"] == 15.0 and got[("a", 0)]["is_gap"] == 0
    for h in (1, 2):
        g = got[("a", h)]
        assert g["n"] == 0 and g["is_gap"] == 1
        assert g["avg_value"] is None and g["locf_avg"] == 15.0
    assert got[("a", 3)]["locf_avg"] == 40.0
    # leading gaps: no observation yet -> locf stays NULL
    for h in (0, 1):
        g = got[("b", h)]
        assert g["is_gap"] == 1 and g["locf_avg"] is None
    assert got[("b", 2)]["locf_avg"] == 7.0


def test_salted_join_is_identity_rewrite(spark):
    """salted_join must return exactly the rows of the plain equi-join
    (inner and left, including unmatched left rows), with the salt
    column gone."""
    from trafficteach_spark.operators.skew import salted_join

    skewed = spark.createDataFrame(
        [(1, i) for i in range(500)]        # hot key 1
        + [(2, 1000), (3, 2000), (9, 9000)],  # 9 unmatched
        "k long, payload long",
    )
    dim = spark.createDataFrame(
        [(1, "hot"), (2, "two"), (3, "three"), (4, "unused")], "k long, name string"
    )
    plain_inner = sorted(
        tuple(r) for r in skewed.join(dim, "k").select("k", "payload", "name").collect()
    )
    salted_inner = sorted(
        tuple(r)
        for r in salted_join(skewed, dim, "k").select("k", "payload", "name").collect()
    )
    assert salted_inner == plain_inner and len(plain_inner) == 502

    plain_left = sorted(
        tuple(r)
        for r in skewed.join(dim, "k", "left").select("k", "payload", "name").collect()
    )
    salted_left = sorted(
        tuple(r)
        for r in salted_join(skewed, dim, "k", how="left")
        .select("k", "payload", "name")
        .collect()
    )
    assert salted_left == plain_left and len(plain_left) == 503

    import pytest as _pytest

    with _pytest.raises(ValueError):
        salted_join(skewed, dim, "k", how="full")


def test_salted_join_spreads_hot_key_across_salts(spark):
    """The mechanism itself: a hot key's rows must actually occupy many
    (key, salt) buckets (the whole point of the rewrite)."""
    from pyspark.sql import functions as F

    from trafficteach_spark.operators.skew import N_SALTS

    skewed = spark.createDataFrame([(1, i) for i in range(500)], "k long, payload long")
    n_buckets = (
        skewed.select(
            F.pmod(F.xxhash64("k", "payload"), F.lit(N_SALTS)).alias("s")
        )
        .distinct()
        .count()
    )
    assert n_buckets == N_SALTS


def test_asof_join_library_matches_q51_and_q89(spark):
    """The general asof_join must reproduce both registered as-of
    queries exactly (backward == q51, forward == q89) when fed the same
    pre-deduped inputs."""
    from trafficteach_spark.operators.sequences import asof_join
    from trafficteach_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    events = load_table(spark, sf, "events").select("event_id", "user_id", "ts")
    orders = load_table(spark, sf, "orders")
    od = orders.groupBy(
        F.col("o_custkey").alias("user_id"), F.col("o_orderdate").alias("ts")
    ).agg(F.max("o_orderkey").alias("o_orderkey"))

    got = asof_join(events, od, on="ts", by="user_id", direction="backward")
    lib = {
        (r["event_id"], r["o_orderkey"]) for r in got.collect()
    }
    q51 = {
        (r["event_id"], r["o_orderkey"])
        for r in Q["q51_asof_join"](spark, sf).collect()
    }
    assert lib == q51 and len(lib) > 0

    ords = orders.select(
        "o_orderkey", F.col("o_custkey").alias("user_id"),
        F.col("o_orderdate").alias("ts"),
    )
    ed = load_table(spark, sf, "events").groupBy("user_id", "ts").agg(
        F.max("event_id").alias("event_id")
    )
    fwd = asof_join(ords, ed, on="ts", by="user_id", direction="forward")
    lib_f = {(r["o_orderkey"], r["event_id"]) for r in fwd.collect()}
    q89 = {
        (r["o_orderkey"], r["event_id"])
        for r in Q["q89_asof_forward"](spark, sf).collect()
    }
    assert lib_f == q89 and len(lib_f) > 0


def test_asof_join_tolerance_and_left_how(spark):
    """Hand-built frame: tolerance drops too-old matches; how='left'
    keeps unmatched rows with NULL right columns; equal timestamps
    match in both directions; colliding right names get _r suffix."""
    import datetime as dt

    from trafficteach_spark.operators.sequences import asof_join

    T = lambda m: dt.datetime(2024, 1, 1, 10, m)
    left = spark.createDataFrame(
        [(1, T(10), "a"), (1, T(30), "b"), (2, T(5), "c")],
        "k long, ts timestamp_ntz, tag string",
    )
    right = spark.createDataFrame(
        [(1, T(10), 100.0), (1, T(12), 120.0)],
        "k long, ts timestamp_ntz, tag double",  # 'tag' collides
    )
    # backward, no tolerance: b matches T(12) (nearest before T(30));
    # a matches the equal-instant T(10); c has no match -> dropped (inner)
    got = {
        (r["tag"], r["tag_r"])
        for r in asof_join(left, right, on="ts", by="k").collect()
    }
    assert got == {("a", 100.0), ("b", 120.0)}

    # tolerance 300s: T(30)-T(12) = 18 min > 5 min -> b unmatched;
    # how='left' keeps every left row, unmatched with NULLs
    got_l = {
        r["tag"]: r["tag_r"]
        for r in asof_join(
            left, right, on="ts", by="k", tolerance_sec=300, how="left"
        ).collect()
    }
    assert got_l == {"a": 100.0, "b": None, "c": None}

    # forward: a (T10) matches equal-instant 100.0, b (T30) nothing
    got_f = {
        r["tag"]: r["tag_r"]
        for r in asof_join(
            left, right, on="ts", by="k", direction="forward", how="left"
        ).collect()
    }
    assert got_f == {"a": 100.0, "b": None, "c": None}

    import pytest as _pytest

    with _pytest.raises(ValueError):
        asof_join(left, right, on="ts", by="k", direction="nearest")


def test_asof_join_property_random_streams(spark):
    """Seeded random timelines: asof_join (both directions, with and
    without tolerance, inner and left) must match a brute-force Python
    reference on arbitrary interleavings, including exact-timestamp
    ties across sides."""
    import datetime as dt
    import random

    from trafficteach_spark.operators.sequences import asof_join

    rng = random.Random(23)
    base = dt.datetime(2024, 1, 1)
    lrows, rrows = [], []
    lid = rid = 0
    for k in range(1, 6):
        for _ in range(rng.randrange(1, 15)):
            lrows.append((k, base + dt.timedelta(minutes=rng.randrange(0, 200)), lid))
            lid += 1
        # right: unique per (k, t) by construction (sampled w/o replacement)
        for m in rng.sample(range(0, 200), rng.randrange(1, 10)):
            rrows.append((k, base + dt.timedelta(minutes=m), rid))
            rid += 1
    left = spark.createDataFrame(lrows, "k long, ts timestamp_ntz, lid long")
    right = spark.createDataFrame(rrows, "k long, ts timestamp_ntz, rid long")

    def ref(direction, tol):
        out = {}
        for k, t, i in lrows:
            cands = [
                (rt, ri)
                for (rk, rt, ri) in rrows
                if rk == k
                and (rt <= t if direction == "backward" else rt >= t)
                and (tol is None or abs((t - rt).total_seconds()) <= tol)
            ]
            if cands:
                rt, ri = (max if direction == "backward" else min)(cands)
                out[i] = ri
            else:
                out[i] = None
        return out

    for direction in ("backward", "forward"):
        for tol in (None, 1800):
            expect = ref(direction, tol)
            got_left = {
                r["lid"]: r["rid"]
                for r in asof_join(
                    left, right, on="ts", by="k",
                    direction=direction, tolerance_sec=tol, how="left",
                ).collect()
            }
            assert got_left == expect, (direction, tol)
            got_inner = {
                r["lid"]: r["rid"]
                for r in asof_join(
                    left, right, on="ts", by="k",
                    direction=direction, tolerance_sec=tol,
                ).collect()
            }
            assert got_inner == {i: v for i, v in expect.items() if v is not None}, (
                direction, tol,
            )


def test_range_join_library_matches_q63(spark):
    """The general range_join must reproduce q63's registered result
    when fed the same mega-order intervals at day buckets."""
    from trafficteach_spark.operators.timeseries import (
        _IVAL_DAYS,
        _MEGA_PRICE,
        range_join,
    )
    from trafficteach_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    orders = (
        load_table(spark, sf, "orders")
        .where(F.col("o_totalprice") > _MEGA_PRICE)
        .select("o_orderkey", "o_orderpriority", "o_orderdate")
        .withColumn("o_end", F.col("o_orderdate") + F.expr(f"INTERVAL {_IVAL_DAYS} DAYS"))
    )
    li = load_table(spark, sf, "lineitem").select(
        "l_orderkey", "l_shipdate", "l_quantity"
    )
    got = (
        range_join(li, orders, "l_shipdate", "o_orderdate", "o_end")
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_pairs"),
            F.countDistinct("o_orderkey").alias("n_orders"),
            F.round(F.sum("l_quantity"), 6).alias("sum_qty"),
        )
    )
    expect = {tuple(r) for r in Q["q63_range_join"](spark, sf).collect()}
    assert {tuple(r) for r in got.collect()} == expect and expect


def test_range_join_property_random_intervals(spark):
    """Seeded random points/intervals at an odd bucket width (7200 s):
    matches must equal the brute-force cross check, for both exclusive
    and inclusive ends, with an extra equi-key."""
    import datetime as dt
    import random

    from trafficteach_spark.operators.timeseries import range_join

    rng = random.Random(31)
    base = dt.datetime(2024, 1, 1)
    pts, ivs = [], []
    for pid in range(120):
        pts.append(
            (rng.randrange(1, 4), base + dt.timedelta(minutes=rng.randrange(0, 4000)), pid)
        )
    for vid in range(25):
        s = base + dt.timedelta(minutes=rng.randrange(0, 4000))
        ivs.append(
            (rng.randrange(1, 4), s, s + dt.timedelta(minutes=rng.randrange(0, 600)), vid)
        )
    points = spark.createDataFrame(pts, "g long, t timestamp_ntz, pid long")
    intervals = spark.createDataFrame(ivs, "g long, s timestamp_ntz, e timestamp_ntz, vid long")
    for inclusive in (False, True):
        got = {
            (r["pid"], r["vid"])
            for r in range_join(
                points, intervals, "t", "s", "e",
                bucket_sec=7200, end_inclusive=inclusive, keys=("g",),
            ).collect()
        }
        expect = {
            (pid, vid)
            for (pg, t, pid) in pts
            for (ig, s, e, vid) in ivs
            if pg == ig and s <= t and (t <= e if inclusive else t < e)
        }
        assert got == expect, inclusive
        assert len(expect) > 0


def test_q119_udtf_irregular_whitespace_matches_oracle_islands(spark, tmp_path):
    """Latent-divergence regression (round-6 review finding): runs are
    adjacency in RAW split positions — 'b  b' (double space) is NOT a
    run because the empty token holds position 2, exactly like the
    oracle's gaps-and-islands over generate_subscripts. Verified
    against DuckDB on a planted irregular-whitespace fixture."""
    import duckdb

    from trafficteach_spark import registry, schemas

    docs = [
        (1, "b  b", "en", "web", 4),          # double space: no run
        (2, " x x", "en", "web", 4),          # leading space shifts pos
        (3, "a a  a a", "en", "web", 8),      # two runs of 2, split by gap
        (4, "c c c", "en", "web", 5),         # plain run of 3
    ]
    spark.createDataFrame(docs, schemas.DOCUMENTS).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "documents.parquet"))
    got = sorted(
        tuple(r) for r in Q["q119_python_udtf"](spark, str(tmp_path)).collect()
    )
    con = duckdb.connect()
    # Spark wrote a DIRECTORY; DuckDB needs the part-file glob
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM read_parquet("
        f"'{tmp_path}/documents.parquet/*.parquet')"
    )
    oracle = sorted(
        tuple(r)
        for r in con.execute(
            registry.all_specs()["q119_python_udtf"].oracle
        ).fetchall()
    )
    assert got == oracle
    assert got == [(2, 2, "x", 2), (3, 1, "a", 2), (3, 4, "a", 2), (4, 1, "c", 3)]


def test_range_join_degenerate_intervals_no_fanout(spark):
    """Empty (start == end, exclusive) and inverted (end < start)
    intervals must produce zero candidate rows BEFORE the residual
    filter — not a descending bucket fan-out (round-6 review finding)."""
    import datetime as dt

    from trafficteach_spark.operators.timeseries import range_join

    T = lambda d: dt.datetime(2024, 1, 1) + dt.timedelta(days=d)
    points = spark.createDataFrame([(T(0), 1)], "t timestamp_ntz, pid long")
    intervals = spark.createDataFrame(
        [
            (T(0), T(0), 10),          # empty under exclusive end
            (T(100), T(0), 11),        # inverted by ~100 days
            (T(0), T(1), 12),          # genuine match
        ],
        "s timestamp_ntz, e timestamp_ntz, vid long",
    )
    out = range_join(points, intervals, "t", "s", "e")
    assert {r["vid"] for r in out.collect()} == {12}
    # the explode input must carry ONLY the valid interval: the join's
    # interval side, pre-residual, has exactly 1 bucket row (the one-day
    # interval covers one day bucket under the exclusive end)
    from pyspark.sql import functions as F

    n_buckets = (
        intervals.where(
            F.unix_micros(F.col("e").cast("timestamp"))
            > F.unix_micros(F.col("s").cast("timestamp"))
        )
        .withColumn(
            "_b",
            F.explode(
                F.sequence(
                    (F.unix_micros(F.col("s").cast("timestamp")) / 86_400_000_000).cast("long"),
                    ((F.unix_micros(F.col("e").cast("timestamp")) - 1) / 86_400_000_000).cast("long"),
                )
            ),
        )
        .count()
    )
    assert n_buckets == 1


def test_asof_join_nullable_right_attributes_carry_atomically(spark):
    """Round-6 review finding: a NULL attribute in the NEAREST right row
    must come back as NULL — per-column ignorenulls carries would blend
    in a staler row's value for that column."""
    import datetime as dt

    from trafficteach_spark.operators.sequences import asof_join

    T = lambda m: dt.datetime(2024, 1, 1, 10, m)
    left = spark.createDataFrame([(1, T(30), 99)], "k long, ts timestamp_ntz, lid long")
    right = spark.createDataFrame(
        [(1, T(10), 1.0, 2.0), (1, T(20), None, 3.0)],
        "k long, ts timestamp_ntz, a double, b double",
    )
    r = asof_join(left, right, on="ts", by="k").collect()[0]
    # nearest row is T(20): a must be NULL (not 1.0 from T(10)), b = 3.0
    assert r["a"] is None and r["b"] == 3.0


def test_salted_join_spreads_literally_duplicate_rows(spark):
    """Round-6 review finding: a hot key whose rows are IDENTICAL after
    column pruning must still spread across salts (the salt includes a
    per-row ordinal, not just the column values)."""
    from pyspark.sql import functions as F

    from trafficteach_spark.operators.skew import N_SALTS, salted_join

    skewed = spark.createDataFrame([(1, 7)] * 2000, "k long, payload long")
    dim = spark.createDataFrame([(1, "hot")], "k long, name string")
    out = salted_join(skewed, dim, "k")
    assert out.count() == 2000  # identity rewrite still holds
    n_buckets = (
        skewed.select(
            F.pmod(
                F.xxhash64("k", "payload", F.monotonically_increasing_id()),
                F.lit(N_SALTS),
            ).alias("s")
        )
        .distinct()
        .count()
    )
    assert n_buckets == N_SALTS


def test_rolling_active_twins_agree_on_quiet_days(spark, tmp_path):
    """Round-6 review finding: a calendar day with NO events but trailing
    7-day activity must report stickiness 0.0 in BOTH the exact (q107)
    and sketch (q115) forms — not NULL in one of them."""
    import datetime as dt

    from trafficteach_spark import schemas

    def ns(d, h=10):
        return int(
            dt.datetime(2024, 1, d, h, tzinfo=dt.timezone.utc).timestamp() * 1e9
        )

    # activity on Jan 1 and Jan 5; Jan 2-4 are quiet but trailing-active
    rows = [
        (1, ns(1), 1, "view", 1.0, "{}"),
        (2, ns(1), 2, "view", 1.0, "{}"),
        (3, ns(5), 1, "click", 1.0, "{}"),
    ]
    spark.createDataFrame(rows, schemas.EVENTS_PHYSICAL).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "events.parquet"))
    exact = {r["day"]: r for r in Q["q107_rolling_active_users"](spark, str(tmp_path)).collect()}
    sk = {r["day"]: r for r in Q["q115_rolling_active_sketch"](spark, str(tmp_path)).collect()}
    assert set(exact) == set(sk)
    for d in (2, 3, 4):
        day = dt.date(2024, 1, d)
        assert exact[day]["dau"] == 0 and exact[day]["stickiness"] == 0.0
        assert sk[day]["dau"] == 0 and sk[day]["stickiness"] == 0.0, day
        assert sk[day]["wau"] == exact[day]["wau"] == 2


def test_feature_hashing_matches_python_md5_reference(spark, tmp_path):
    """Seeded random docs: q117's bucket counts must equal a pure-Python
    md5-prefix reference (int(md5hex[:15], 16) % 64 per token)."""
    import hashlib
    import random
    from collections import Counter

    from trafficteach_spark import schemas

    rng = random.Random(41)
    vocab = ["alpha", "beta", "Gamma", "d1", "e!", "zz"]
    docs, expect = [], Counter()
    for i in range(30):
        toks = [rng.choice(vocab) for _ in range(rng.randrange(1, 40))]
        docs.append((i, " ".join(toks), "en", "web", 0))
        for t in toks:
            b = int(hashlib.md5(t.lower().encode()).hexdigest()[:15], 16) % 64
            expect[(i, b)] += 1
    spark.createDataFrame(docs, schemas.DOCUMENTS).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "documents.parquet"))
    got = {
        (r["doc_id"], r["bucket"]): r["n"]
        for r in Q["q117_feature_hashing"](spark, str(tmp_path)).collect()
    }
    assert got == dict(expect)


def test_chunk_dedup_matches_counter_reference(spark, tmp_path):
    """Seeded random docs with planted shared chunks: q118's per-doc dup
    stats must equal a Counter-over-chunks reference (chunking exactly
    as q43: 16-token slices of the raw split)."""
    import random
    from collections import Counter

    from trafficteach_spark import schemas

    rng = random.Random(43)
    boiler = " ".join(f"b{j}" for j in range(16))  # a full shared chunk
    docs = []
    texts = {}
    for i in range(25):
        toks = [f"w{i}_{j}" for j in range(rng.randrange(1, 50))]
        if i % 3 == 0:
            toks = boiler.split(" ") + toks  # planted cross-doc chunk
        texts[i] = " ".join(toks)
        docs.append((i, texts[i], "en", "web", 0))
    spark.createDataFrame(docs, schemas.DOCUMENTS).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "documents.parquet"))

    chunk_of = {}
    freq = Counter()
    for i, t in texts.items():
        w = t.split(" ")
        chunks = [
            " ".join(w[c * 16 : (c + 1) * 16])
            for c in range((len(w) - 1) // 16 + 1)
        ]
        chunk_of[i] = chunks
        freq.update(chunks)
    got = {r["doc_id"]: r for r in Q["q118_chunk_dedup"](spark, str(tmp_path)).collect()}
    assert set(got) == set(texts)
    for i, chunks in chunk_of.items():
        dups = sum(1 for c in chunks if freq[c] > 1)
        assert got[i]["n_chunks"] == len(chunks), i
        assert got[i]["n_dup_chunks"] == dups, i
        assert got[i]["dup_frac"] == round(dups / len(chunks), 6), i


def test_fk_audit_matches_bruteforce_reference(spark, tmp_path):
    """Planted-orphan fixture: every relation's orphan count must equal
    a brute-force per-relation set check over the same tables."""
    import datetime as dt

    from tests.conftest import (
        TINY_CUSTOMER,
        TINY_LINEITEM,
        TINY_NATION,
        TINY_ORDERS,
        TINY_PART,
        TINY_REGION,
        TINY_SUPPLIER,
    )
    from trafficteach_spark import schemas

    # plant orphans: a lineitem with an unknown order AND part, an order
    # with an unknown customer, an event user with no customer row
    lineitem = TINY_LINEITEM + [
        (999, 777, 0, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", dt.datetime(1996, 1, 1))
    ]
    orders = TINY_ORDERS + [(4, 555, "O", 1.0, dt.datetime(1996, 1, 2), "3-X")]
    events = [
        (1, int(dt.datetime(2024, 1, 6, tzinfo=dt.timezone.utc).timestamp() * 1e9),
         1, "view", 1.0, "{}"),
        (2, int(dt.datetime(2024, 1, 6, tzinfo=dt.timezone.utc).timestamp() * 1e9),
         404, "view", 1.0, "{}"),  # orphan user
    ]
    frames = {
        "region": (TINY_REGION, schemas.READ_SCHEMAS["region"]),
        "nation": (TINY_NATION, schemas.READ_SCHEMAS["nation"]),
        "customer": (TINY_CUSTOMER, schemas.READ_SCHEMAS["customer"]),
        "supplier": (TINY_SUPPLIER, schemas.READ_SCHEMAS["supplier"]),
        "part": (TINY_PART, schemas.READ_SCHEMAS["part"]),
        "orders": (orders, schemas.READ_SCHEMAS["orders"]),
        "lineitem": (lineitem, schemas.READ_SCHEMAS["lineitem"]),
    }
    for name, (rows_, schema) in frames.items():
        spark.createDataFrame(rows_, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp_path / f"{name}.parquet"))
    spark.createDataFrame(events, schemas.EVENTS_PHYSICAL).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "events.parquet"))

    from trafficteach_spark.operators.analytics import _FK_RELATIONS

    data = {n: rows_ for n, (rows_, _s) in frames.items()}
    data["events"] = events
    col_idx = {
        "lineitem": {"l_orderkey": 0, "l_partkey": 1, "l_suppkey": 2},
        "orders": {"o_custkey": 1},
        "customer": {"c_nationkey": 2},
        "supplier": {"s_nationkey": 2},
        "nation": {"n_regionkey": 2},
        "events": {"user_id": 2},
    }
    pk_idx = {"orders": 0, "part": 0, "supplier": 0, "customer": 0,
              "nation": 0, "region": 0}
    got = {
        (r["child_table"], r["fk_col"]): r
        for r in Q["q104_fk_audit"](spark, str(tmp_path)).collect()
    }
    for child, fk, parent, _pk in _FK_RELATIONS:
        keys = [row[col_idx[child][fk]] for row in data[child]]
        parents = {row[pk_idx[parent]] for row in data[parent]}
        expect_orphans = sum(1 for k in keys if k is not None and k not in parents)
        r = got[(child, fk)]
        assert r["n_child"] == len([k for k in keys if k is not None]), (child, fk)
        assert r["n_orphan"] == expect_orphans, (child, fk, r["n_orphan"], expect_orphans)


def test_salted_join_shrinks_hot_key_partition_share(spark):
    """Behavioral proof of the skew remedy (round-6 verdict item 6):
    with a planted pathological hot key, the plain shuffled equi-join
    concentrates the hot key's entire output in ONE post-shuffle
    partition, while salted_join spreads it across the salt space. Row
    placement is the deterministic proxy for task time (a reducer's
    wall clock is monotone in its row count), so the assertion is on
    the max-partition row share — measurable and stable, unlike timing
    spreads on a busy CI host. Broadcast and AQE are disabled for the
    measurement: the remedy's contract is exactly the regime where AQE
    cannot re-key the join (its skew split can subdivide a partition's
    files, not change what one key hashes to) and the dim cannot be
    broadcast.
    """
    from pyspark.sql import functions as F

    from trafficteach_spark.operators.skew import salted_join

    hot = [(1, i) for i in range(20_000)]
    cold = [(k, i) for k in range(2, 102) for i in range(10)]
    skewed = spark.createDataFrame(hot + cold, "k long, payload long")
    dim = spark.createDataFrame([(k, f"d{k}") for k in range(1, 102)], "k long, name string")

    def max_share(df):
        rows = (
            df.withColumn("pid", F.spark_partition_id())
            .groupBy("pid")
            .count()
            .collect()
        )
        total = sum(r["count"] for r in rows)
        return max(r["count"] for r in rows) / total

    conf = spark.conf
    saved = {
        "spark.sql.autoBroadcastJoinThreshold": conf.get(
            "spark.sql.autoBroadcastJoinThreshold"
        ),
        "spark.sql.adaptive.enabled": conf.get("spark.sql.adaptive.enabled"),
    }
    try:
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        conf.set("spark.sql.adaptive.enabled", "false")
        plain_share = max_share(skewed.join(dim, "k"))
        salted_share = max_share(salted_join(skewed, dim, "k"))
    finally:
        for k, v in saved.items():
            conf.set(k, v)

    # the hot key is ~95% of output rows: plain puts all of it in one
    # partition; salted must cut the worst partition by >= 4x
    assert plain_share > 0.9, plain_share
    assert salted_share < plain_share / 4, (plain_share, salted_share)


def test_windowed_funnel_excludes_late_steps(spark):
    """q129's per-hop time bound: a next step beyond the window must NOT
    advance the match (and must not backtrack to a later anchor), while
    the same sequence converts under q19's unbounded matcher."""
    import datetime as dt

    from trafficteach_spark.operators.sequences import (
        FUNNEL_CHAIN,
        _funnel_depth_expr,
        _windowed_depth_expr,
    )

    t0 = dt.datetime(2024, 1, 1, 10, 0, 0)

    def row(uid, eid, minutes, etype):
        return (uid, eid, t0 + dt.timedelta(minutes=minutes), etype)

    rows = [
        # user 1: view -> click(+30m) -> purchase(+50m): full depth both ways
        row(1, 1, 0, "view"), row(1, 2, 30, "click"), row(1, 3, 50, "purchase"),
        # user 2: view -> click(+120m): in-window depth 1, unbounded depth 2
        row(2, 4, 0, "view"), row(2, 5, 120, "click"),
        # user 3: view -> click(+30m) -> purchase(+200m): windowed stops at 2
        row(3, 6, 0, "view"), row(3, 7, 30, "click"), row(3, 8, 200, "purchase"),
        # user 4: click before any view: depth 0 both ways
        row(4, 9, 0, "click"),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp_ntz, event_type string"
    )
    from pyspark.sql import functions as F

    got = {
        r["user_id"]: (r["w"], r["u"])
        for r in df.groupBy("user_id")
        .agg(
            F.expr(_windowed_depth_expr(FUNNEL_CHAIN, 60)).alias("w"),
            F.expr(_funnel_depth_expr(FUNNEL_CHAIN)).alias("u"),
        )
        .collect()
    }
    assert got == {1: (3, 3), 2: (1, 2), 3: (2, 3), 4: (0, 0)}


def test_mad_outliers_matches_numpy_reference(spark):
    """q124 against an independent numpy implementation of the
    median/MAD gate at sf0.001."""
    import numpy as np
    import pandas as pd

    from trafficteach_spark.operators.analytics import (
        _MAD_K,
        q124_mad_outliers,
    )
    from trafficteach_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    pdf = load_table(spark, sf, "events").select("event_type", "value").toPandas()
    expect = {}
    for t, g in pdf.groupby("event_type"):
        v = g["value"].to_numpy()
        med = float(np.median(v))
        mad = float(np.median(np.abs(v - med)))
        n_out = int((np.abs(v - med) > _MAD_K * mad).sum())
        expect[t] = (len(v), round(med, 6), round(mad, 6), n_out)
    got = {
        r["event_type"]: (
            r["n_events"], r["median_value"], r["mad"], r["n_outliers"]
        )
        for r in q124_mad_outliers(spark, sf).collect()
    }
    assert got == expect


def test_user_lifecycle_matches_pandas_reference(spark):
    """q132 against an independent pandas implementation of weekly
    growth accounting at sf0.001."""
    import pandas as pd

    from trafficteach_spark.operators.analytics import q132_user_lifecycle
    from trafficteach_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    pdf = load_table(spark, sf, "events").select("user_id", "ts").toPandas()
    pdf["wk"] = pdf["ts"].dt.to_period("W-SUN").dt.start_time.dt.date
    act = pdf[["user_id", "wk"]].drop_duplicates()
    max_wk = act["wk"].max()
    from collections import defaultdict

    classes = defaultdict(lambda: [0, 0, 0, 0])  # new, ret, res, churn
    for uid, g in act.groupby("user_id"):
        wks = sorted(g["wk"])
        for i, w in enumerate(wks):
            if i == 0:
                classes[w][0] += 1
            elif (w - wks[i - 1]).days == 7:
                classes[w][1] += 1
            else:
                classes[w][2] += 1
            nxt = wks[i + 1] if i + 1 < len(wks) else None
            churn_wk = w + pd.Timedelta(days=7).to_pytimedelta()
            if (nxt is None or (nxt - w).days > 7) and churn_wk <= max_wk:
                classes[churn_wk][3] += 1
    got = {
        r["wk"]: (r["n_new"], r["n_retained"], r["n_resurrected"], r["n_churned"])
        for r in q132_user_lifecycle(spark, sf).collect()
    }
    assert got == {w: tuple(c) for w, c in classes.items()}


def test_cms_topk_matches_python_reference(spark):
    """q137 against an independent pure-Python count-min sketch built
    from the same md5-derived row hashes at sf0.001 — exact cell-level
    agreement plus the CMS one-sided-error invariant (est >= freq)."""
    from collections import Counter

    from trafficteach_spark.operators.sketches import (
        _CMS_D,
        _CMS_TOPK,
        _CMS_W,
        q137_cms_topk,
    )
    from trafficteach_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    uids = [
        r["user_id"]
        for r in load_table(spark, sf, "events").select("user_id").collect()
    ]
    freq = Counter(uids)
    sketch = [Counter() for _ in range(_CMS_D)]

    def bucket(j, uid):
        return int(hashlib.md5(f"{j}:{uid}".encode()).hexdigest()[:7], 16) % _CMS_W

    for uid in uids:
        for j in range(_CMS_D):
            sketch[j][bucket(j, uid)] += 1
    top = sorted(freq.items(), key=lambda kv: (-kv[1], kv[0]))[:_CMS_TOPK]
    expect = {
        uid: (f, min(sketch[j][bucket(j, uid)] for j in range(_CMS_D)))
        for uid, f in top
    }
    got = {
        r["user_id"]: (r["freq"], r["cms_est"])
        for r in q137_cms_topk(spark, sf).collect()
    }
    assert got == expect
    assert all(est >= f for f, est in got.values())


def test_srm_check_matches_python_reference(spark):
    """q138 against an independent chi-square computation from the raw
    md5 variant hash at sf0.001 — and the statistic's sign convention
    (srm flag fires iff chi2 exceeds the 3.841 critical value)."""
    from trafficteach_spark.operators.sequences import (
        _SRM_CHI2_CRIT,
        q138_srm_check,
    )
    from trafficteach_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    users = {
        r["user_id"]
        for r in load_table(spark, sf, "events").select("user_id").distinct().collect()
    }
    n_a = sum(
        1
        for u in users
        if int(hashlib.md5(str(u).encode()).hexdigest()[:15], 16) % 2 == 0
    )
    n_b = len(users) - n_a
    e = (n_a + n_b) / 2.0
    chi2 = (n_a - e) ** 2 / e + (n_b - e) ** 2 / e
    [row] = q138_srm_check(spark, sf).collect()
    assert (row["n_a"], row["n_b"]) == (n_a, n_b)
    assert row["chi2"] == round(chi2, 6)
    assert row["srm"] == (1 if chi2 > _SRM_CHI2_CRIT else 0)


def test_knn_recall_eval_matches_python_reference(spark):
    """q136 against recall computed in plain Python from the collected
    outputs of the three registered KNN pipelines at sf0.001 — the eval
    must report exactly the overlap of what the queries return."""
    from trafficteach_spark.operators.llm.similarity import (
        q32_knn_cosine,
        q32_knn_ivf,
        q32_knn_lsh,
        q136_knn_recall_eval,
    )

    sf = "/root/testdata/sf0.001"

    def topk(fn):
        out = {}
        for r in fn(spark, sf).collect():
            out.setdefault(r["qid"], set()).add(r["nid"])
        return out

    exact = topk(q32_knn_cosine)
    expect = {}
    for name, fn in (("lsh", q32_knn_lsh), ("ivf", q32_knn_ivf)):
        approx = topk(fn)
        recalls = [
            len(nids & approx.get(q, set())) / len(nids)
            for q, nids in exact.items()
        ]
        expect[name] = (len(exact), round(sum(recalls) / len(recalls), 6))
    got = {
        r["variant"]: (r["n_queries"], r["mean_recall"])
        for r in q136_knn_recall_eval(spark, sf).collect()
    }
    assert got == expect
    assert all(0.0 <= rec <= 1.0 for _, rec in got.values())


def test_ols_regression_matches_numpy_lstsq(spark):
    """q139 against numpy's least-squares solver on the collected
    sf0.001 lineitem — an entirely different algorithm (QR / SVD vs
    closed-form Cramer on exact decimal moments), so agreement to 1e-5
    is real evidence the normal-equations assembly is right."""
    import numpy as np

    from trafficteach_spark.operators.analytics import q139_ols_regression
    from trafficteach_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    pdf = (
        load_table(spark, sf, "lineitem")
        .select("l_quantity", "l_discount", "l_extendedprice")
        .toPandas()
    )
    X = np.column_stack(
        [np.ones(len(pdf)), pdf["l_quantity"], pdf["l_discount"]]
    )
    y = pdf["l_extendedprice"].to_numpy()
    beta, *_ = np.linalg.lstsq(X, y, rcond=None)
    resid = y - X @ beta
    r2 = 1.0 - resid @ resid / ((y - y.mean()) @ (y - y.mean()))
    [row] = q139_ols_regression(spark, sf).collect()
    assert row["n"] == len(pdf)
    assert abs(row["beta0"] - beta[0]) < 1e-4 * max(1.0, abs(beta[0]))
    assert abs(row["beta1"] - beta[1]) < 1e-5 * max(1.0, abs(beta[1]))
    assert abs(row["beta2"] - beta[2]) < 1e-5 * max(1.0, abs(beta[2]))
    assert abs(row["r2"] - r2) < 1e-6


def test_rfm_segmentation_matches_pandas_reference(spark):
    """q140 against a pandas implementation of the explicit ceil-rank
    quartile definition at sf0.001 — scores, segment sizes, and exact
    spend sums must all agree."""
    from collections import defaultdict

    from trafficteach_spark.operators.analytics import (
        _RFM_MONETARY_BIN,
        q140_rfm_segmentation,
    )
    from trafficteach_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    pdf = (
        load_table(spark, sf, "orders")
        .select("o_custkey", "o_orderdate", "o_totalprice")
        .toPandas()
    )
    pdf["day"] = pdf["o_orderdate"].dt.date
    max_day = pdf["day"].max()
    per = pdf.groupby("o_custkey").agg(
        last=("day", "max"), freq=("day", "size"), mon=("o_totalprice", "sum")
    )
    per["recency"] = [(max_day - d).days for d in per["last"]]
    per["m_bin"] = (per["mon"] / _RFM_MONETARY_BIN).apply(
        lambda v: int(v // 1)
    )

    def quartiles(vals):
        s = sorted(vals)
        n = len(s)
        return [s[-(-k * n // 4) - 1] for k in (1, 2, 3)]

    def score(v, qs):
        return 1 + sum(v > q for q in qs)

    rq = quartiles(per["recency"])
    fq = quartiles(per["freq"])
    mq = quartiles(per["m_bin"])
    seg = defaultdict(lambda: [0, 0.0])
    for _, r in per.iterrows():
        k = (score(r["recency"], rq), score(r["freq"], fq), score(r["m_bin"], mq))
        seg[k][0] += 1
        seg[k][1] += r["mon"]
    got = {
        (r["r_q"], r["f_q"], r["m_q"]): (r["n_customers"], r["sum_monetary"])
        for r in q140_rfm_segmentation(spark, sf).collect()
    }
    assert set(got) == set(seg)
    for k, (n, tot) in seg.items():
        assert got[k][0] == n
        assert abs(got[k][1] - tot) < 1e-6 * max(1.0, abs(tot))


def test_association_rules_matches_pandas_reference(spark):
    """q141 against a brute-force basket enumeration at sf0.001 —
    directed pair counts, confidence, and lift."""
    from collections import Counter

    from trafficteach_spark.operators.analytics import (
        _RULE_MIN_SUPPORT,
        q141_association_rules,
    )
    from trafficteach_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    li = (
        load_table(spark, sf, "lineitem")
        .select("l_orderkey", "l_partkey")
        .toPandas()
    )
    part = (
        load_table(spark, sf, "part").select("p_partkey", "p_brand").toPandas()
    )
    brand = dict(zip(part["p_partkey"], part["p_brand"]))
    baskets = {}
    for ok, pk in zip(li["l_orderkey"], li["l_partkey"]):
        baskets.setdefault(ok, set()).add(brand[pk])
    n_baskets = len(baskets)
    item = Counter()
    pair = Counter()
    for bs in baskets.values():
        for a in bs:
            item[a] += 1
            for c in bs:
                if a != c:
                    pair[(a, c)] += 1
    expect = {
        (a, c): (
            n,
            round(n / n_baskets, 6),
            round(n / item[a], 6),
            round(n * n_baskets / (item[a] * item[c]), 6),
        )
        for (a, c), n in pair.items()
        if n / n_baskets >= _RULE_MIN_SUPPORT
    }
    got = {
        (r["antecedent"], r["consequent"]): (
            r["n_pair"],
            r["support"],
            r["confidence"],
            r["lift"],
        )
        for r in q141_association_rules(spark, sf).collect()
    }
    assert got == expect


def test_autocorrelation_matches_numpy_reference(spark):
    """q142 against numpy's corrcoef on the pandas-built daily revenue
    series at sf0.001 — a different accumulation order and algorithm,
    so 1e-6 agreement validates the co-moment assembly."""
    import numpy as np

    from trafficteach_spark.operators.timeseries import (
        _ACF_MAX_LAG,
        q142_autocorrelation,
    )
    from trafficteach_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    pdf = (
        load_table(spark, sf, "orders")
        .select("o_orderdate", "o_totalprice")
        .toPandas()
    )
    pdf["day"] = pdf["o_orderdate"].dt.date
    daily = (
        pdf.groupby("day")["o_totalprice"].sum().sort_index().to_numpy()
    )
    got = {
        r["lag"]: (r["n"], r["acf"])
        for r in q142_autocorrelation(spark, sf).collect()
    }
    assert set(got) == set(range(1, _ACF_MAX_LAG + 1))
    for k in range(1, _ACF_MAX_LAG + 1):
        x, y = daily[k:], daily[:-k]
        assert got[k][0] == len(x)
        assert abs(got[k][1] - np.corrcoef(x, y)[0, 1]) < 1e-6


def test_autocorrelation_degenerate_short_constant_series(spark, tmp_path):
    """Round-7 verdict item 1: a corpus spanning fewer days than the max
    lag (zero pairs) and a CONSTANT daily revenue (zero variance) must
    yield acf=NULL rows, never an ANSI DIVIDE_BY_ZERO. 5 constant days:
    lags 1-4 have pairs but zero variance; lags 5-14 have zero pairs."""
    import datetime as dt

    from trafficteach_spark import schemas
    from trafficteach_spark.operators.timeseries import (
        _ACF_MAX_LAG,
        q142_autocorrelation,
    )

    rows = [
        (i, 1, "O", 100.0, dt.datetime(1995, 3, 1 + i), "1-URGENT")
        for i in range(5)
    ]
    spark.createDataFrame(rows, schemas.ORDERS).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "orders.parquet"))
    got = {
        r["lag"]: (r["n"], r["acf"])
        for r in q142_autocorrelation(spark, str(tmp_path)).collect()
    }
    assert set(got) == set(range(1, _ACF_MAX_LAG + 1))
    for k in range(1, 5):
        assert got[k] == (5 - k, None), k  # pairs exist, zero variance
    for k in range(5, _ACF_MAX_LAG + 1):
        assert got[k] == (0, None), k  # no pairs at all


def test_spearman_matches_pandas_rank_reference(spark):
    """q145 against pandas average-rank + numpy corrcoef at sf0.001 — a
    completely different rank algorithm (per-row sort vs distinct-value
    cumulative), so 1e-6 agreement validates the midrank arithmetic."""
    import numpy as np

    from trafficteach_spark.operators.analytics import q145_spearman_corr
    from trafficteach_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    pdf = (
        load_table(spark, sf, "lineitem")
        .select("l_quantity", "l_discount")
        .toPandas()
    )
    ra = pdf["l_quantity"].rank(method="average")
    rb = pdf["l_discount"].rank(method="average")
    expect = np.corrcoef(ra, rb)[0, 1]
    row = q145_spearman_corr(spark, sf).collect()[0]
    assert row["n"] == len(pdf)
    assert abs(row["spearman_rho"] - expect) < 1e-6


def test_higher_moments_match_numpy_reference(spark):
    """q150 against numpy population moments at sf0.001: mean, stddev,
    g1 skewness, g2 excess kurtosis per return flag."""
    import numpy as np

    from trafficteach_spark.operators.analytics import q150_higher_moments
    from trafficteach_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    pdf = (
        load_table(spark, sf, "lineitem")
        .select("l_returnflag", "l_extendedprice")
        .toPandas()
    )
    got = {
        r["l_returnflag"]: r for r in q150_higher_moments(spark, sf).collect()
    }
    for flag, grp in pdf.groupby("l_returnflag"):
        x = grp["l_extendedprice"].to_numpy()
        mu, sd = x.mean(), x.std()  # population
        cm3 = ((x - mu) ** 3).mean()
        cm4 = ((x - mu) ** 4).mean()
        r = got[flag]
        assert r["n"] == len(x)
        assert abs(r["mean_price"] - mu) < 1e-4
        assert abs(r["pop_stddev"] - sd) < 1e-4
        assert abs(r["skewness"] - cm3 / sd**3) < 1e-6
        assert abs(r["ex_kurtosis"] - (cm4 / sd**4 - 3)) < 1e-6


def test_holt_forecast_matches_python_loop(spark):
    """q158 against a plain-Python Holt recurrence at sf0.001 — the HOF
    fold and the reference loop must chain the same doubles."""
    from trafficteach_spark.operators.timeseries import q158_holt_forecast
    from trafficteach_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    pdf = (
        load_table(spark, sf, "orders")
        .select("o_orderdate", "o_totalprice")
        .toPandas()
    )
    pdf["day"] = pdf["o_orderdate"].dt.date
    daily = sorted(
        (d, round(float(v), 2))
        for d, v in pdf.groupby("day")["o_totalprice"].sum().items()
    )
    preds = {}
    l = b = None
    for day, y in daily:
        if l is None:
            l, b, preds[day] = y, 0.0, None
        else:
            preds[day] = l + b
            l_new = 0.3 * y + 0.7 * (l + b)
            b = 0.1 * (l_new - l) + 0.9 * b
            l = l_new
    got = {r["day"]: r["one_step_pred"] for r in q158_holt_forecast(spark, sf).collect()}
    assert set(got) == set(preds)
    for day, p in preds.items():
        if p is None:
            assert got[day] is None
        else:
            assert abs(got[day] - p) < 1e-6, day


def test_activity_bitmap_matches_pandas_reference(spark):
    """q147 against a pandas bitmask recomputation at sf0.001 (histogram
    of active-day counts and the 3-day-streak flag)."""
    from collections import Counter

    from trafficteach_spark.operators.sequences import q147_activity_bitmap
    from trafficteach_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    pdf = load_table(spark, sf, "events").select("user_id", "ts").toPandas()
    pdf["day"] = pdf["ts"].dt.date
    max_day = pdf["day"].max()
    masks = {}
    for (u, d), _ in pdf.groupby(["user_id", "day"]):
        off = (max_day - d).days
        if 0 <= off <= 29:
            masks[u] = masks.get(u, 0) | (1 << off)
    hist, streaks = Counter(), Counter()
    for u, m in masks.items():
        n = bin(m).count("1")
        hist[n] += 1
        streaks[n] += 1 if (m & (m >> 1) & (m >> 2)) != 0 else 0
    got = {
        r["n_active_days"]: (r["n_users"], r["n_streak3"])
        for r in q147_activity_bitmap(spark, sf).collect()
    }
    assert got == {n: (hist[n], streaks[n]) for n in hist}


# ---------- round-8 batch G: selection / semantic dedup / spans ----------


def test_markov_transitions_match_python_reference(spark):
    """q172 against a plain-Python lag recomputation at sf0.001: same
    transition counts, and P(next | prev) sums to 1 per prev state."""
    from collections import Counter, defaultdict

    from trafficteach_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    pdf = (
        load_table(spark, sf, "events")
        .select("user_id", "ts", "event_id", "event_type")
        .toPandas()
        .sort_values(["user_id", "ts", "event_id"])
    )
    ref = Counter()
    for _, g in pdf.groupby("user_id"):
        types = list(g["event_type"])
        for a, b in zip(types, types[1:]):
            ref[(a, b)] += 1
    rows = Q["q172_markov_transitions"](spark, sf).collect()
    got = {(r["prev_type"], r["next_type"]): r["n"] for r in rows}
    assert got == dict(ref)
    by_prev = defaultdict(float)
    for r in rows:
        by_prev[r["prev_type"]] += r["p"]
        assert abs(r["p"] - ref[(r["prev_type"], r["next_type"])] / sum(
            c for (a, _), c in ref.items() if a == r["prev_type"]
        )) < 1e-5
    for s in by_prev.values():
        assert abs(s - 1.0) < 1e-4  # each row rounds to 6 places


def test_length_retention_sweep_monotone_and_exact(spark):
    """q173: full grid present, counts monotone non-increasing, and the
    T=200 row equals a pandas recount."""
    from trafficteach_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    rows = {r["threshold"]: r for r in Q["q173_length_retention_sweep"](spark, sf).collect()}
    assert sorted(rows) == list(range(50, 501, 50))
    counts = [rows[t]["n_docs"] for t in sorted(rows)]
    assert counts == sorted(counts, reverse=True)
    nc = load_table(spark, sf, "documents").select("n_chars").toPandas()["n_chars"]
    keep = nc[nc >= 200]
    assert rows[200]["n_docs"] == len(keep)
    assert rows[200]["n_chars_kept"] == int(keep.sum())
    assert abs(rows[200]["doc_frac"] - len(keep) / len(nc)) < 1e-5


def test_dsir_weights_cover_raw_docs_with_feature_counts(spark):
    """q169: exactly the non-target docs are scored, n_feats is the
    bigram occurrence count (len-1), and weights are finite."""
    import math

    from trafficteach_spark.operators.llm.corpus import _DSIR_TARGET
    from trafficteach_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    pdf = load_table(spark, sf, "documents").select(
        "doc_id", "source", "text"
    ).toPandas()
    raw = pdf[~pdf["source"].isin(_DSIR_TARGET)]
    expect = {
        int(r.doc_id): len(str(r.text).lower().split()) - 1
        for r in raw.itertuples()
        if len(str(r.text).split()) >= 2
    }
    rows = Q["q169_dsir_weights"](spark, sf).collect()
    got = {r["doc_id"]: r["n_feats"] for r in rows}
    assert got == expect
    assert all(math.isfinite(r["weight"]) for r in rows)


def test_semdedup_matches_numpy_reference(spark):
    """q170 against a numpy within-cluster recomputation at sf0.001:
    identical removal set; each cluster's first vector always kept."""
    import numpy as np

    from trafficteach_spark.operators.llm.similarity import _SEMDEDUP_COS
    from trafficteach_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    pdf = load_table(spark, sf, "embeddings").toPandas()
    removed_ref = set()
    first_ids = set()
    for _, g in pdf.groupby("label"):
        g = g.sort_values("vec_id")
        first_ids.add(int(g["vec_id"].iloc[0]))
        m = np.array([np.array(v, dtype=np.float64) for v in g["embedding"]])
        m = m / np.linalg.norm(m, axis=1, keepdims=True)
        cos = np.round(m @ m.T, 6)
        ids = list(g["vec_id"])
        for j in range(1, len(ids)):
            if max(cos[j][:j]) >= _SEMDEDUP_COS:
                removed_ref.add(int(ids[j]))
    rows = Q["q170_semdedup"](spark, sf).collect()
    assert {r["vec_id"] for r in rows if r["removed"]} == removed_ref
    for r in rows:
        if r["vec_id"] in first_ids:
            assert r["max_lower_cos"] is None and not r["removed"]


def test_dup_span_fraction_planted_duplicate_covers_fully(spark, tmp_path):
    """q171 on a hand-built corpus: an exact duplicate pair is covered
    end-to-end (dup_frac 1.0), a unique doc scores 0, and a partial
    overlap covers exactly the shared window's span."""
    import shutil

    from trafficteach_spark.operators.llm.dedup import SPAN_K

    src = "/root/testdata/sf0.001"
    d = tmp_path / "spans"
    d.mkdir()
    for t in ("region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events", "embeddings"):
        shutil.copy(f"{src}/{t}.parquet", d / f"{t}.parquet")
    shared = " ".join(f"s{i}" for i in range(SPAN_K))  # one shared k-gram
    docs = [
        (1, "alpha " * 9 + "omega", "en", "srcA", 0),   # 10 tokens, dup of 2
        (2, "alpha " * 9 + "omega", "en", "srcA", 0),
        (3, " ".join(f"u{i}" for i in range(10)), "en", "srcB", 0),
        (4, shared + " tail1 tail2", "en", "srcC", 0),
        (5, "head0 head1 " + shared, "en", "srcC", 0),
    ]
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.parquet(str(d / "documents.parquet"))
    out = {r["doc_id"]: r for r in Q["q171_dup_span_fraction"](spark, str(d)).collect()}
    assert out[1]["dup_frac"] == 1.0 and out[2]["dup_frac"] == 1.0
    assert out[3]["covered"] == 0 and out[3]["dup_frac"] == 0.0
    # docs 4/5: only the shared k-gram window is duplicated -> SPAN_K
    # covered positions out of SPAN_K + 2 tokens.
    for i in (4, 5):
        assert out[i]["covered"] == SPAN_K
        assert abs(out[i]["dup_frac"] - SPAN_K / (SPAN_K + 2)) < 1e-6


# ---------- round-8 batch H: quality gates / planners / survival ----------


def test_gopher_rules_match_python_reference(spark):
    """q174 against a plain-Python rule recomputation at sf0.001."""
    from trafficteach_spark.operators.llm.text import (
        _EN_STOPWORDS,
        _GOPHER_MIN_ALPHA,
        _GOPHER_MIN_STOP,
        _GOPHER_MIN_WORDS,
    )
    from trafficteach_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    pdf = load_table(spark, sf, "documents").select("doc_id", "text").toPandas()
    ref = {}
    for r in pdf.itertuples():
        w = str(r.text).split(" ")
        n_stop = sum(1 for x in w if x in _EN_STOPWORDS)
        alpha = sum(1 for x in w if x.isalpha() and x.islower()) / len(w)
        ref[int(r.doc_id)] = (
            int(len(w) >= _GOPHER_MIN_WORDS),
            int(n_stop >= _GOPHER_MIN_STOP),
            int(alpha >= _GOPHER_MIN_ALPHA),
        )
    rows = Q["q174_gopher_rules"](spark, sf).collect()
    assert len(rows) == len(ref)
    for r in rows:
        ec, es, ea = ref[r["doc_id"]]
        assert (r["r_count"], r["r_stop"], r["r_alpha"]) == (ec, es, ea), r
        assert r["pass_all"] == (r["r_count"] & r["r_wordlen"] & r["r_stop"] & r["r_alpha"])
    # the battery must actually discriminate on this corpus
    assert 0 < sum(r["pass_all"] for r in rows) < len(rows)


def test_lsh_curve_planner_scurve_shape(spark):
    """q175: the S-curve formula checked against plain-Python math, and
    the monotone shape along the budget split (more rows per band ->
    lower capture probability at fixed J)."""
    import math

    from trafficteach_spark.operators.llm.dedup import JACCARD_THRESHOLD

    sf = "/root/testdata/sf0.001"
    rows = {(r["bands"], r["rows_per_band"]): r for r in Q["q175_lsh_curve_planner"](spark, sf).collect()}
    assert set(rows) == {(64, 1), (32, 2), (16, 4), (8, 8), (4, 16)}
    for (b, rr), r in rows.items():
        expect = 1 - (1 - JACCARD_THRESHOLD**rr) ** b
        assert abs(r["prob_at_threshold"] - expect) < 1e-6
        assert 0.0 <= r["worst_pair_prob"] <= r["exp_recall"] <= 1.0
    probs = [rows[k]["prob_at_threshold"] for k in [(64, 1), (32, 2), (16, 4), (8, 8), (4, 16)]]
    assert probs == sorted(probs, reverse=True)
    n_pairs = {r["n_true_pairs"] for r in rows.values()}
    assert len(n_pairs) == 1  # same truth set under every config


def test_quantization_error_matches_numpy(spark):
    """q176 against a numpy int8 round-trip at sf0.001."""
    import numpy as np

    from trafficteach_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    pdf = load_table(spark, sf, "embeddings").toPandas()
    per_label = {}
    for _, g in pdf.groupby("label"):
        coss, errs = [], []
        for v in g["embedding"]:
            v = np.array(v, dtype=np.float64)
            scale = np.abs(v).max() / 127.0
            vq = np.round(v / scale) * scale
            coss.append(round(float(v @ vq / (np.linalg.norm(v) * np.linalg.norm(vq))), 6))
            errs.append(np.abs(v - vq).max())
        per_label[int(g["label"].iloc[0])] = (
            len(coss), np.mean(coss), min(coss), np.mean(errs),
        )
    for r in Q["q176_quantization_error"](spark, sf).collect():
        n, avg_c, min_c, avg_e = per_label[r["label"]]
        assert r["n_vectors"] == n
        assert abs(r["avg_cosine"] - avg_c) < 1e-5
        assert abs(r["min_cosine"] - min_c) < 1e-6
        assert abs(r["avg_max_abs_err"] - avg_e) < 1e-5
        assert r["min_cosine"] > 0.99  # int8 keeps cosine ~1 — the audit's point


def test_kaplan_meier_matches_lifelines_style_reference(spark):
    """q177 against a plain-Python product-limit recomputation (the
    textbook estimator) at sf0.001."""
    from collections import Counter

    from trafficteach_spark.operators.analytics import _KM_VALUE
    from trafficteach_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    pdf = load_table(spark, sf, "events").select("user_id", "ts", "event_type", "value").toPandas()
    pdf["day"] = pdf["ts"].dt.date
    durs = []
    for _, g in pdf.groupby("user_id"):
        f = g["day"].min()
        hv = g[(g["event_type"] == "purchase") & (g["value"] >= _KM_VALUE)]
        if len(hv):
            durs.append(((hv["day"].min() - f).days, 1))
        else:
            durs.append(((g["day"].max() - f).days, 0))
    d_obs = Counter(t for t, o in durs if o)
    n_all = Counter(t for t, o in durs)
    s, ref = 1.0, {}
    for t in sorted(n_all):
        n_risk = sum(c for tt, c in n_all.items() if tt >= t)
        if d_obs[t]:
            s *= 1 - d_obs[t] / n_risk
            ref[t] = (n_risk, d_obs[t], n_all[t] - d_obs[t], s)
    got = {r["duration"]: r for r in Q["q177_kaplan_meier"](spark, sf).collect()}
    assert set(got) == set(ref)
    for t, (n_risk, d, c, s_ref) in ref.items():
        r = got[t]
        assert (r["n_risk"], r["n_events"], r["n_censored"]) == (n_risk, d, c)
        assert abs(r["survival"] - s_ref) < 1e-5
    # survival must be non-increasing
    surv = [got[t]["survival"] for t in sorted(got)]
    assert all(a >= b for a, b in zip(surv, surv[1:]))


def test_kneser_ney_matches_python_reference(spark):
    """q178 against a dict-based KN recomputation at sf0.001: same
    top-20 doc set and scores."""
    import math
    from collections import Counter, defaultdict

    from trafficteach_spark.operators.llm.text import _KN_D, _KN_TOPK
    from trafficteach_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    pdf = load_table(spark, sf, "documents").select("doc_id", "text").toPandas()
    bi, fwd_types, back_types, ctx_tot = Counter(), defaultdict(set), defaultdict(set), Counter()
    doc_pairs = {}
    for r in pdf.itertuples():
        w = str(r.text).split(" ")
        ps = list(zip(w, w[1:]))
        if ps:
            doc_pairs[int(r.doc_id)] = ps
        for a, b in ps:
            bi[(a, b)] += 1
            fwd_types[a].add(b)
            back_types[b].add(a)
            ctx_tot[a] += 1
    nbt = len(bi)
    scores = {}
    for d, ps in doc_pairs.items():
        tot = 0.0
        for a, b in ps:
            p = (bi[(a, b)] - _KN_D) / ctx_tot[a] + (
                _KN_D * len(fwd_types[a]) / ctx_tot[a]
            ) * (len(back_types[b]) / nbt)
            tot += math.log(p)
        scores[d] = round(tot / len(ps), 6)
    expect = sorted(scores.items(), key=lambda kv: (kv[1], kv[0]))[:_KN_TOPK]
    got = [(r["doc_id"], r["avg_logprob"]) for r in Q["q178_kneser_ney_logprob"](spark, sf).collect()]
    assert [d for d, _ in got] == [d for d, _ in expect]
    for (gd, gs), (ed, es) in zip(got, expect):
        assert abs(gs - es) < 2e-6, (gd, gs, es)


# ---------- round-8 batch I: mixing / uncertainty / design ----------


def test_jsd_source_divergence_matches_scipy_style_reference(spark):
    """q179 against a dict-based JSD recomputation at sf0.001 (full
    closed form including the missing-mass term)."""
    import math
    from collections import Counter, defaultdict

    from trafficteach_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    pdf = load_table(spark, sf, "documents").select("source", "text").toPandas()
    per_src, corpus = defaultdict(Counter), Counter()
    for r in pdf.itertuples():
        ws = str(r.text).lower().split(" ")
        per_src[r.source].update(ws)
        corpus.update(ws)
    ct = sum(corpus.values())
    ref = {}
    for s, cnt in per_src.items():
        st = sum(cnt.values())
        jsd = 0.0
        for w, cw in corpus.items():
            p = cnt.get(w, 0) / st
            q = cw / ct
            m = (p + q) / 2
            if p:
                jsd += 0.5 * p * math.log(p / m)
            if q:
                jsd += 0.5 * q * math.log(q / m)
        ref[s] = jsd
    got = {r["source"]: r for r in Q["q179_jsd_source_divergence"](spark, sf).collect()}
    assert set(got) == set(ref)
    for s, v in ref.items():
        assert abs(got[s]["jsd"] - v) < 1e-5, s
        assert abs(got[s]["jsd_distance"] - math.sqrt(v / math.log(2))) < 1e-5
        assert 0.0 <= got[s]["jsd_distance"] <= 1.0


def test_jackknife_ci_matches_python_reference(spark):
    """q180 against a plain-Python leave-one-group-out recomputation."""
    import hashlib
    import math

    from trafficteach_spark.operators.sequences import _JK_GROUPS, _JK_VALUE
    from trafficteach_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    pdf = load_table(spark, sf, "events").select("user_id", "event_type", "value").toPandas()
    conv = {}
    for r in pdf.itertuples():
        uid = int(r.user_id)
        hit = r.event_type == "purchase" and r.value >= _JK_VALUE
        conv[uid] = conv.get(uid, False) or hit
    def grp(uid):
        return int(hashlib.md5(str(uid).encode()).hexdigest()[:15], 16) % _JK_GROUPS
    g = {}
    for uid, c in conv.items():
        n, k = g.get(grp(uid), (0, 0))
        g[grp(uid)] = (n + 1, k + int(c))
    nn = sum(n for n, _ in g.values())
    cc = sum(k for _, k in g.values())
    thetas = [(cc - k) / (nn - n) for n, k in g.values()]
    tb = sum(thetas) / len(thetas)
    var = (len(g) - 1) / len(g) * sum((t - tb) ** 2 for t in thetas)
    [r] = Q["q180_jackknife_ci"](spark, sf).collect()
    assert r["n_users"] == nn and r["n_groups"] == len(g)
    assert abs(r["conv_rate"] - cc / nn) < 1e-6
    assert abs(r["jk_se"] - math.sqrt(var)) < 1e-5
    assert r["ci_lo"] < r["conv_rate"] < r["ci_hi"]
    assert r["jk_se"] > 0  # the high-value metric keeps it non-degenerate


def test_power_analysis_matches_closed_form(spark):
    """q181 against the textbook two-proportion formula, and the
    monotone shape (bigger lift -> smaller n)."""
    import math

    rows = {r["mde_rel"]: r for r in Q["q181_power_analysis"](spark, "/root/testdata/sf0.001").collect()}
    assert set(rows) == {0.01, 0.02, 0.05, 0.10, 0.20}
    za, zb = 1.959963984540054, 0.8416212335729143
    for mde, r in rows.items():
        p1, p2 = r["p1"], r["p2"]
        assert abs(p2 - p1 * (1 + mde)) < 1e-5
        pbar = (p1 + p2) / 2
        n = math.ceil(
            (za * math.sqrt(2 * pbar * (1 - pbar))
             + zb * math.sqrt(p1 * (1 - p1) + p2 * (1 - p2))) ** 2
            / (p2 - p1) ** 2
        )
        assert r["n_per_arm"] == n, mde
        assert r["days_to_run"] >= 1
    ns = [rows[m]["n_per_arm"] for m in sorted(rows)]
    assert ns == sorted(ns, reverse=True)


# ---------- round-8 batch J: embedding audits / nonparametrics / fusion ----------


def test_embedding_dim_profile_matches_numpy(spark):
    """q182 against a numpy recomputation at sf0.001."""
    import numpy as np

    from trafficteach_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    pdf = load_table(spark, sf, "embeddings").select("embedding").toPandas()
    X = np.array([np.asarray(v, dtype=np.float64) for v in pdf.embedding])
    mean, var = X.mean(axis=0), X.var(axis=0)
    got = {r["dim"]: r for r in Q["q182_embedding_dim_profile"](spark, sf).collect()}
    assert set(got) == set(range(X.shape[1]))
    for d in range(X.shape[1]):
        assert got[d]["n_vectors"] == X.shape[0]
        assert abs(got[d]["mean_val"] - mean[d]) < 1e-5
        assert abs(got[d]["var_val"] - var[d]) < 1e-5
        assert abs(got[d]["var_share"] - var[d] / var.sum()) < 1e-5
    assert abs(sum(r["var_share"] for r in got.values()) - 1.0) < 1e-3


def test_embedding_corr_pairs_matches_numpy(spark):
    """q183 against numpy corrcoef, including the |r| ranking cut."""
    import numpy as np

    from trafficteach_spark.operators.llm.similarity import _CORR_DIMS, _CORR_TOPK
    from trafficteach_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    pdf = load_table(spark, sf, "embeddings").select("embedding").toPandas()
    X = np.array([np.asarray(v, dtype=np.float64)[:_CORR_DIMS] for v in pdf.embedding])
    R = np.corrcoef(X, rowvar=False)
    ref = sorted(
        ((round(abs(R[i, j]), 6), i, j, R[i, j])
         for i in range(_CORR_DIMS) for j in range(i + 1, _CORR_DIMS)),
        key=lambda t: (-t[0], t[1], t[2]),
    )[:_CORR_TOPK]
    got = Q["q183_embedding_corr_pairs"](spark, sf).collect()
    assert len(got) == _CORR_TOPK
    for row, (_, i, j, r) in zip(got, ref):
        assert (row["dim_a"], row["dim_b"]) == (i, j)
        assert abs(row["corr"] - r) < 1e-5
        assert row["n_vectors"] == X.shape[0]


def test_mann_whitney_matches_python_reference(spark):
    """q184 against a per-user rank assignment in plain Python (the
    operator never ranks per user — tie-group machinery only)."""
    import hashlib as _h
    import math

    from trafficteach_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    pdf = load_table(spark, sf, "events").select(
        "user_id", "event_type", "value"
    ).toPandas()
    rev = {}
    for r in pdf.itertuples():
        uid = int(r.user_id)
        rev[uid] = rev.get(uid, 0.0) + (r.value if r.event_type == "purchase" else 0.0)
    arm = {
        uid: int(_h.md5(str(uid).encode()).hexdigest()[:15], 16) % 2
        for uid in rev
    }
    vals = sorted((round(v, 6), uid) for uid, v in rev.items())
    # average ranks for ties, assigned per user
    ranks, i = {}, 0
    while i < len(vals):
        j = i
        while j < len(vals) and vals[j][0] == vals[i][0]:
            j += 1
        avg = (i + 1 + j) / 2.0  # mean of ranks i+1..j
        for k in range(i, j):
            ranks[vals[k][1]] = avg
        i = j
    a_users = [u for u in rev if arm[u] == 0]
    na, nb = len(a_users), len(rev) - len(a_users)
    n = na + nb
    ra = sum(ranks[u] for u in a_users)
    ua = ra - na * (na + 1) / 2
    # tie correction over group sizes
    from collections import Counter

    tie = sum(c**3 - c for c in Counter(v for v, _ in vals).values())
    var = na * nb / 12.0 * ((n + 1) - tie / (n * (n - 1)))
    z = (ua - na * nb / 2) / math.sqrt(var)
    [row] = Q["q184_mann_whitney"](spark, sf).collect()
    assert (row["n_a"], row["n_b"]) == (na, nb)
    assert abs(row["u_a"] - ua) < 1e-4
    assert abs(row["z"] - z) < 1e-5
    assert abs(row["rank_biserial"] - (2 * ua / (na * nb) - 1)) < 1e-5


def test_rrf_fusion_matches_python_reference(spark):
    """q185 against a plain-Python recomputation of BOTH rankers and
    the fusion at sf0.001."""
    import math

    from trafficteach_spark.operators.llm.similarity import (
        _RRF_K,
        _RRF_POOL,
        _RRF_QVEC,
        _RRF_TOPK,
    )
    from trafficteach_spark.operators.llm.text import (
        _BM25_B,
        _BM25_K1,
        _BM25_QUERY,
    )
    from trafficteach_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents").select("doc_id", "text").toPandas()
    docs = docs[docs.text.notna()]
    dls = {int(r.doc_id): len(str(r.text).split(" ")) for r in docs.itertuples()}
    tfs = {
        int(r.doc_id): [str(r.text).split(" ").count(t) for t in _BM25_QUERY]
        for r in docs.itertuples()
    }
    n_docs = len(dls)
    avgdl = sum(dls.values()) / n_docs
    dfs = [sum(1 for v in tfs.values() if v[i] > 0) for i in range(len(_BM25_QUERY))]
    bm = []
    for d, tf in tfs.items():
        if sum(tf) == 0:
            continue
        s = sum(
            math.log((n_docs - dfs[i] + 0.5) / (dfs[i] + 0.5) + 1.0)
            * (tf[i] * (_BM25_K1 + 1.0))
            / (tf[i] + _BM25_K1 * (1.0 - _BM25_B + _BM25_B * dls[d] / avgdl))
            for i in range(len(_BM25_QUERY))
        )
        bm.append((round(s, 6), d))
    bm.sort(key=lambda t: (-t[0], t[1]))
    bm_rank = {d: i + 1 for i, (_, d) in enumerate(bm[:_RRF_POOL])}

    emb = load_table(spark, sf, "embeddings").select("vec_id", "embedding").toPandas()
    vecs = {int(r.vec_id): [float(x) for x in r.embedding] for r in emb.itertuples()}
    qv = vecs[_RRF_QVEC]
    qn = math.sqrt(sum(x * x for x in qv))
    cos = []
    for vid, v in vecs.items():
        if vid == _RRF_QVEC:
            continue
        dot = sum(a * b for a, b in zip(qv, v))
        nrm = math.sqrt(sum(x * x for x in v))
        cos.append((round(dot / (qn * nrm), 6), vid))
    cos.sort(key=lambda t: (-t[0], t[1]))
    cos_rank = {d: i + 1 for i, (_, d) in enumerate(cos[:_RRF_POOL])}

    fused = []
    for d in set(bm_rank) | set(cos_rank):
        s = (1.0 / (_RRF_K + bm_rank[d]) if d in bm_rank else 0.0) + (
            1.0 / (_RRF_K + cos_rank[d]) if d in cos_rank else 0.0
        )
        fused.append((round(s, 6), d))
    fused.sort(key=lambda t: (-t[0], t[1]))
    ref = fused[:_RRF_TOPK]
    got = Q["q185_rrf_fusion"](spark, sf).collect()
    assert len(got) == len(ref)
    for row, (s, d) in zip(got, ref):
        assert row["doc_id"] == d, (row, d)
        assert abs(row["rrf_score"] - s) < 2e-6
        assert row["bm25_rank"] == bm_rank.get(d, 0)
        assert row["cosine_rank"] == cos_rank.get(d, 0)


# ---------- round-8 batch K: iterative fixed points / hashing audit ----------


def test_pagerank_types_matches_python_reference(spark):
    """q186 against a plain-Python power iteration at sf0.001."""
    from collections import Counter, defaultdict

    from trafficteach_spark.operators.sequences import _PR_D, _PR_ITERS
    from trafficteach_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    pdf = (
        load_table(spark, sf, "events")
        .select("user_id", "ts", "event_id", "event_type")
        .toPandas()
        .sort_values(["user_id", "ts", "event_id"])
    )
    edges = Counter()
    for _, grp in pdf.groupby("user_id"):
        types = list(grp.event_type)
        for a, b in zip(types, types[1:]):
            edges[(a, b)] += 1
    out_w = defaultdict(int)
    for (a, _), w in edges.items():
        out_w[a] += w
    nodes = sorted({a for a, _ in edges} | {b for _, b in edges})
    n = len(nodes)
    pr = {v: 1.0 / n for v in nodes}
    for _ in range(_PR_ITERS):
        nxt = {v: (1 - _PR_D) / n for v in nodes}
        for (a, b), w in edges.items():
            nxt[b] += _PR_D * pr[a] * (w / out_w[a])
        pr = nxt
    got = {r["event_type"]: r for r in Q["q186_pagerank_types"](spark, sf).collect()}
    assert set(got) == set(nodes)
    for v in nodes:
        assert abs(got[v]["pagerank"] - pr[v]) < 1e-5, v
        assert got[v]["n_out"] == out_w.get(v, 0)
    assert abs(sum(r["pagerank"] for r in got.values()) - 1.0) < 1e-3


def test_raking_weights_matches_python_reference(spark):
    """q187 against a plain-Python IPF, and the calibration property:
    weighted source/lang marginals move toward uniform."""
    from collections import Counter

    from trafficteach_spark.operators.llm.corpus import _IPF_ITERS
    from trafficteach_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    pdf = load_table(spark, sf, "documents").select("source", "lang").toPandas()
    pdf = pdf[pdf.source.notna() & pdf.lang.notna()]
    cells = Counter(zip(pdf.source, pdf.lang))
    t = sum(cells.values())
    srcs = {s for s, _ in cells}
    langs = {l for _, l in cells}
    w = {k: 1.0 for k in cells}
    for _ in range(_IPF_ITERS):
        rs = Counter()
        for (s, l), n in cells.items():
            rs[s] += n * w[(s, l)]
        for k in w:
            w[k] *= (t / len(srcs)) / rs[k[0]]
        cs = Counter()
        for (s, l), n in cells.items():
            cs[l] += n * w[(s, l)]
        for k in w:
            w[k] *= (t / len(langs)) / cs[k[1]]
    got = {(r["source"], r["lang"]): r for r in Q["q187_raking_weights"](spark, sf).collect()}
    assert set(got) == set(cells)
    for k, n in cells.items():
        assert got[k]["n_docs"] == n
        assert abs(got[k]["weight"] - w[k]) < 1e-4, k
    # calibration: the LAST sweep was the lang sweep, so weighted lang
    # marginals are exactly uniform; source marginals near-uniform
    lm = Counter()
    for (s, l), n in cells.items():
        lm[l] += n * got[(s, l)]["weight"]
    for l, m in lm.items():
        assert abs(m - t / len(langs)) < t * 5e-4, l


def test_hash_collision_audit_matches_python_reference(spark):
    """q188 against hashlib md5 bucketing in plain Python."""
    import hashlib as _h
    from collections import Counter

    from trafficteach_spark.operators.llm.corpus import _COLLISION_WIDTHS
    from trafficteach_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    pdf = load_table(spark, sf, "documents").select("text").toPandas()
    vocab = Counter()
    for txt in pdf.text.dropna():
        for tkn in str(txt).lower().split(" "):
            if tkn:
                vocab[tkn] += 1
    hv = {tkn: int(_h.md5(tkn.encode()).hexdigest()[:15], 16) for tkn in vocab}
    got = {r["width"]: r for r in Q["q188_hash_collision_audit"](spark, sf).collect()}
    assert set(got) == set(_COLLISION_WIDTHS)
    for width in _COLLISION_WIDTHS:
        buckets = Counter()
        mass = Counter()
        for tkn, c in vocab.items():
            b = hv[tkn] % width
            buckets[b] += 1
            mass[b] += c
        collided = {b for b, k in buckets.items() if k >= 2}
        r = got[width]
        assert r["n_terms"] == len(vocab)
        assert r["n_buckets_used"] == len(buckets)
        assert r["collided_buckets"] == len(collided)
        share = sum(mass[b] for b in collided) / sum(mass.values())
        assert abs(r["collision_mass_share"] - share) < 1e-6
    # more buckets -> fewer collisions, monotone
    cb = [got[w]["collided_buckets"] / w for w in sorted(_COLLISION_WIDTHS)]
    assert cb == sorted(cb, reverse=True)


# ---------- round-8 batch L: attribution / robust moments ----------


def test_shapley_attribution_matches_python_reference(spark):
    """q189 against an exact plain-Python Shapley computation, plus the
    efficiency axiom Sum(phi) = v(grand coalition) - v(empty)."""
    from collections import defaultdict
    from math import factorial

    from trafficteach_spark.operators.sequences import _SHAP_CHANNELS
    from trafficteach_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    pdf = load_table(spark, sf, "events").select("user_id", "event_type").toPandas()
    seen, conv = defaultdict(set), defaultdict(bool)
    for r in pdf.itertuples():
        uid = int(r.user_id)
        if r.event_type == "purchase":
            conv[uid] = True
            seen[uid]  # ensure key
        elif r.event_type in _SHAP_CHANNELS:
            seen[uid].add(r.event_type)
        else:
            seen[uid]
    nch = len(_SHAP_CHANNELS)
    stats = defaultdict(lambda: [0, 0])
    for uid in seen:
        m = sum(1 << i for i, c in enumerate(_SHAP_CHANNELS) if c in seen[uid])
        stats[m][0] += 1
        stats[m][1] += int(conv[uid])
    def v(m):
        n, k = stats.get(m, (0, 0))
        return k / n if n else 0.0
    phi = {}
    for i, c in enumerate(_SHAP_CHANNELS):
        tot = 0.0
        for s in range(1 << nch):
            if s & (1 << i):
                continue
            size = bin(s).count("1")
            w = factorial(size) * factorial(nch - 1 - size) / factorial(nch)
            tot += w * (v(s | (1 << i)) - v(s))
        phi[c] = tot
    got = {r["channel"]: r for r in Q["q189_shapley_attribution"](spark, sf).collect()}
    assert set(got) == set(_SHAP_CHANNELS)
    for c in _SHAP_CHANNELS:
        assert abs(got[c]["shapley"] - phi[c]) < 1e-5, c
        exposed = sum(n for m, (n, _) in stats.items()
                      if m & (1 << _SHAP_CHANNELS.index(c)))
        assert got[c]["n_exposed"] == exposed
    # efficiency: telescoping over any chain gives v(full) - v(empty)
    assert abs(sum(phi.values()) - (v((1 << nch) - 1) - v(0))) < 1e-9


def test_markov_attribution_matches_python_reference(spark):
    """q190 against a plain-Python journey builder + value iteration."""
    from collections import Counter, defaultdict

    from trafficteach_spark.operators.sequences import _MK_ITERS, _MK_REMOVALS
    from trafficteach_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    pdf = (
        load_table(spark, sf, "events")
        .select("user_id", "ts", "event_id", "event_type")
        .toPandas()
        .sort_values(["user_id", "ts", "event_id"])
    )
    edges = Counter()
    for uid, grp in pdf.groupby("user_id"):
        types = list(grp.event_type)
        try:
            pidx = types.index("purchase")
            touches, converted = types[:pidx], True
        except ValueError:
            touches, converted = types, False
        if not touches:
            edges[("START", "CONV" if converted else "NULL")] += 1
            continue
        edges[("START", touches[0])] += 1
        for a, b in zip(touches, touches[1:]):
            edges[(a, b)] += 1
        edges[(touches[-1], "CONV" if converted else "NULL")] += 1
    out = defaultdict(float)
    for (a, _), w in edges.items():
        out[a] += w

    def reach(removed):
        e = defaultdict(float)
        for (a, b), w in edges.items():
            if a == removed:
                continue
            e[(a, "NULL" if b == removed else b)] += w / out[a]
        states = {s for ab in e for s in ab}
        v = {s: 1.0 if s == "CONV" else 0.0 for s in states}
        for _ in range(_MK_ITERS):
            nv = {}
            for s in states:
                if s == "CONV":
                    nv[s] = 1.0
                elif s == "NULL":
                    nv[s] = 0.0
                else:
                    nv[s] = sum(p * v[b] for (a, b), p in e.items() if a == s)
            v = nv
        return v.get("START", 0.0)

    base = reach(None)
    res = {c: 1 - reach(c) / base for c in _MK_REMOVALS}
    tot = sum(res.values())
    got = {r["channel"]: r for r in Q["q190_markov_attribution"](spark, sf).collect()}
    assert set(got) == set(_MK_REMOVALS)
    for c in _MK_REMOVALS:
        assert abs(got[c]["removal_effect"] - res[c]) < 1e-5, c
        assert abs(got[c]["attribution"] - res[c] / tot) < 1e-5, c
    assert abs(sum(r["attribution"] for r in got.values()) - 1.0) < 1e-4


def test_winsorized_stats_matches_numpy(spark):
    """q191 against a numpy recomputation with interpolated quantiles."""
    import numpy as np

    from trafficteach_spark.operators.analytics import _WINSOR_HI, _WINSOR_LO
    from trafficteach_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    pdf = load_table(spark, sf, "events").select(
        "user_id", "event_type", "value"
    ).toPandas()
    rev = {}
    for r in pdf.itertuples():
        uid = int(r.user_id)
        rev[uid] = rev.get(uid, 0.0) + (r.value if r.event_type == "purchase" else 0.0)
    x = np.array([round(v, 6) for v in rev.values()])
    lo, hi = np.quantile(x, _WINSOR_LO), np.quantile(x, _WINSOR_HI)
    wx = np.clip(x, lo, hi)
    tx = x[(x >= lo) & (x <= hi)]
    [r] = Q["q191_winsorized_stats"](spark, sf).collect()
    assert r["n_users"] == len(x)
    assert abs(r["mean_raw"] - x.mean()) < 1e-5
    assert abs(r["std_raw"] - x.std(ddof=1)) < 1e-5
    assert abs(r["mean_winsor"] - wx.mean()) < 1e-5
    assert abs(r["std_winsor"] - wx.std(ddof=1)) < 1e-5
    assert abs(r["mean_trim"] - tx.mean()) < 1e-5
    assert r["n_trim"] == len(tx)
    # robustness direction: clamping cannot increase the spread
    assert r["std_winsor"] <= r["std_raw"] + 1e-9


# ---------- round-8 batch M: bootstrap / join sizing / backtest ----------


def test_poisson_bootstrap_matches_python_reference(spark):
    """q192 against a plain-Python replay of the deterministic Poisson
    weights, plus cross-estimator agreement with the q180 jackknife."""
    import hashlib as _h
    import statistics

    from trafficteach_spark.operators.sequences import _BOOT_B, _POIS_CDF
    from trafficteach_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    pdf = load_table(spark, sf, "events").select(
        "user_id", "event_type", "value"
    ).toPandas()
    rev = {}
    for r in pdf.itertuples():
        uid = int(r.user_id)
        rev[uid] = rev.get(uid, 0.0) + (r.value if r.event_type == "purchase" else 0.0)
    rev = {u: round(v, 6) for u, v in rev.items()}

    def pois(u):
        for k, t in enumerate(_POIS_CDF):
            if u < t:
                return k
        return 5

    means = []
    for b in range(_BOOT_B):
        num = den = 0.0
        for uid, m in rev.items():
            h = int(_h.md5(f"{uid}_{b}".encode()).hexdigest()[:15], 16)
            w = pois(h / 1152921504606846976.0)
            num += w * m
            den += w
        means.append(num / den)
    se = statistics.stdev(means)
    [r] = Q["q192_poisson_bootstrap"](spark, sf).collect()
    assert r["n_users"] == len(rev)
    assert r["n_replicas"] == _BOOT_B
    assert abs(r["mean_raw"] - sum(rev.values()) / len(rev)) < 1e-5
    assert abs(r["boot_se"] - se) < 1e-5
    # order-of-magnitude sanity vs the iid SE of the mean
    iid = statistics.stdev(rev.values()) / len(rev) ** 0.5
    assert 0.3 * iid < r["boot_se"] < 3 * iid


def test_join_cardinality_audit_matches_python_reference(spark):
    """q193 against a Counter-based recomputation, and the prediction
    property: total_pairs equals the ACTUAL self-join output size."""
    from collections import Counter

    from trafficteach_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    keys = load_table(spark, sf, "lineitem").select("l_partkey").toPandas()
    c = Counter(keys.l_partkey)
    [r] = Q["q193_join_cardinality_audit"](spark, sf).collect()
    assert r["n_keys"] == len(c)
    assert r["total_rows"] == sum(c.values())
    assert r["total_pairs"] == sum(v * v for v in c.values())
    assert r["max_key_pairs"] == max(v * v for v in c.values())
    # the audit PREDICTS the join: check against an actual self-join
    li = load_table(spark, sf, "lineitem").select("l_partkey")
    actual = li.alias("a").join(li.alias("b"), "l_partkey").count()
    assert actual == r["total_pairs"]


def test_forecast_baselines_matches_python_reference(spark):
    """q194 against a pandas recomputation of both lag baselines."""
    from trafficteach_spark.operators.timeseries import _FB_HORIZON
    from trafficteach_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    pdf = load_table(spark, sf, "events").select(
        "ts", "event_type", "value"
    ).toPandas()
    pdf = pdf[pdf.event_type == "purchase"]
    daily = (
        pdf.assign(day=pdf.ts.dt.date)
        .groupby("day").value.sum().round(6).sort_index()
    )
    y = daily.tolist()
    rows = []
    for i in range(len(y)):
        if i - 7 < 0:
            continue
        rows.append((y[i], y[i - 1], y[i - 7]))
    rows = rows[-_FB_HORIZON:]
    mae_n = sum(abs(a - b) for a, b, _ in rows) / len(rows)
    mae_s = sum(abs(a - c) for a, _, c in rows) / len(rows)
    [r] = Q["q194_forecast_baselines"](spark, sf).collect()
    assert r["n_days"] == len(rows)
    assert abs(r["mae_naive"] - mae_n) < 1e-5
    assert abs(r["mae_snaive"] - mae_s) < 1e-5
    assert abs(r["snaive_vs_naive"] - mae_s / mae_n) < 1e-5


# ---------- round-8 batch N: causal readout / ML evaluation ----------


def test_did_lift_matches_python_reference(spark):
    """q195 against a plain-Python DiD recomputation, plus the placebo
    property: the pre-period arm difference is small under a valid
    md5 split."""
    import hashlib as _h
    import math
    import statistics
    from collections import defaultdict

    from trafficteach_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    pdf = load_table(spark, sf, "events").select(
        "user_id", "ts", "event_type", "value"
    ).toPandas()
    d0, d1 = pdf.ts.dt.date.min(), pdf.ts.dt.date.max()
    mid = d0 + __import__("datetime").timedelta(days=(d1 - d0).days // 2)
    cells = defaultdict(list)
    rev = defaultdict(float)
    for r in pdf.itertuples():
        uid = int(r.user_id)
        arm = int(_h.md5(str(uid).encode()).hexdigest()[:15], 16) % 2
        period = 0 if r.ts.date() <= mid else 1
        rev[(uid, arm, period)] += r.value if r.event_type == "purchase" else 0.0
    for (uid, arm, period), v in rev.items():
        cells[(arm, period)].append(v)
    m = {k: statistics.mean(v) for k, v in cells.items()}
    var_sum = sum(statistics.variance(v) / len(v) for v in cells.values())
    did = (m[(1, 1)] - m[(1, 0)]) - (m[(0, 1)] - m[(0, 0)])
    [r] = Q["q195_did_lift"](spark, sf).collect()
    assert r["n_obs"] == sum(len(v) for v in cells.values())
    assert abs(r["treat_pre"] - m[(1, 0)]) < 1e-5
    assert abs(r["treat_post"] - m[(1, 1)]) < 1e-5
    assert abs(r["ctrl_pre"] - m[(0, 0)]) < 1e-5
    assert abs(r["ctrl_post"] - m[(0, 1)]) < 1e-5
    assert abs(r["did"] - did) < 1e-5
    assert abs(r["se"] - math.sqrt(var_sum)) < 1e-5
    # placebo: pre-period arm gap within ~3 pooled-SE-scale units
    assert abs(m[(1, 0)] - m[(0, 0)]) < 3 * r["se"] * 2


def test_auc_score_matches_pairwise_reference(spark):
    """q196 against the O(n^2) pairwise definition of AUC at sf0.001."""
    import hashlib as _h

    from trafficteach_spark.operators.sequences import _JK_VALUE
    from trafficteach_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    pdf = load_table(spark, sf, "events").select(
        "user_id", "event_type", "value"
    ).toPandas()
    score, label = {}, {}
    for r in pdf.itertuples():
        uid = int(r.user_id)
        score[uid] = score.get(uid, 0) + 1
        hit = r.event_type == "purchase" and r.value >= _JK_VALUE
        label[uid] = label.get(uid, False) or hit
    pos = [score[u] for u in score if label[u]]
    neg = [score[u] for u in score if not label[u]]
    wins = sum(1.0 if p > n else (0.5 if p == n else 0.0) for p in pos for n in neg)
    auc = wins / (len(pos) * len(neg))
    [r] = Q["q196_auc_score"](spark, sf).collect()
    assert (r["n_pos"], r["n_neg"]) == (len(pos), len(neg))
    assert abs(r["auc"] - auc) < 1e-5
    assert abs(r["gini"] - (2 * auc - 1)) < 1e-5
    assert 0.0 <= r["auc"] <= 1.0


def test_calibration_bins_matches_python_reference(spark):
    """q197 against a plain-Python replay of the tie-safe ceil-rank
    decile binning."""
    import hashlib as _h
    import math
    from collections import Counter, defaultdict

    from trafficteach_spark.operators.sequences import _CAL_BINS, _JK_VALUE
    from trafficteach_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    pdf = load_table(spark, sf, "events").select(
        "user_id", "event_type", "value"
    ).toPandas()
    score, label = {}, {}
    for r in pdf.itertuples():
        uid = int(r.user_id)
        score[uid] = score.get(uid, 0) + 1
        hit = r.event_type == "purchase" and r.value >= _JK_VALUE
        label[uid] = label.get(uid, False) or hit
    groups = defaultdict(lambda: [0, 0])
    for u, s in score.items():
        groups[s][0] += 1
        groups[s][1] += int(label[u])
    n = len(score)
    cum = 0
    agg = defaultdict(lambda: [0, 0.0, 0])
    for s in sorted(groups):
        c, pos = groups[s]
        b = min(math.ceil((cum + (c + 1) / 2.0) * _CAL_BINS / n), _CAL_BINS)
        agg[b][0] += c
        agg[b][1] += s * c
        agg[b][2] += pos
        cum += c
    got = {r["bin"]: r for r in Q["q197_calibration_bins"](spark, sf).collect()}
    assert set(got) == set(agg)
    for b, (c, sc, pos) in agg.items():
        assert got[b]["n_users"] == c
        assert abs(got[b]["avg_score"] - sc / c) < 1e-5
        assert abs(got[b]["conv_rate"] - pos / c) < 1e-5
    assert sum(r["n_users"] for r in got.values()) == n


# ---------- round-8 batch O: multiplicity control / variance reduction ----------


def test_metric_family_readout_matches_python_reference(spark):
    """q198 against a plain-Python two-sample z per metric plus an
    explicit Holm step-down replay."""
    import hashlib as _h
    import math
    import statistics
    from collections import defaultdict

    from trafficteach_spark.operators.sequences import _HOLM_CRIT
    from trafficteach_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    pdf = load_table(spark, sf, "events").select(
        "user_id", "ts", "event_type", "value"
    ).toPandas()
    per = defaultdict(lambda: {"conv": 0, "revenue": 0.0, "events": 0, "days": set()})
    for r in pdf.itertuples():
        u = per[int(r.user_id)]
        u["events"] += 1
        u["days"].add(r.ts.date())
        if r.event_type == "purchase":
            u["conv"] = 1
            u["revenue"] += r.value
    vals = defaultdict(lambda: defaultdict(list))
    for uid, u in per.items():
        arm = int(_h.md5(str(uid).encode()).hexdigest()[:15], 16) % 2
        vals["conv"][arm].append(float(u["conv"]))
        vals["revenue"][arm].append(u["revenue"])
        vals["events"][arm].append(float(u["events"]))
        vals["active_days"][arm].append(float(len(u["days"])))
    zs = {}
    for m, d in vals.items():
        a, b = d[0], d[1]
        den = math.sqrt(
            statistics.variance(a) / len(a) + statistics.variance(b) / len(b)
        )
        # zero-variance metric (every fixture user converts): the
        # operator's try_divide yields NULL; mirror with None
        zs[m] = (statistics.mean(b) - statistics.mean(a)) / den if den else None
    # Spark's desc ordering puts NULLs last; mirror with -inf abs
    order = sorted(
        zs, key=lambda m: (-(abs(zs[m]) if zs[m] is not None else float("-inf")), m)
    )
    sig, ok = {}, True
    for k, m in enumerate(order):
        ok = ok and zs[m] is not None and abs(zs[m]) > _HOLM_CRIT[k]
        sig[m] = int(ok)
    got = {r["metric"]: r for r in Q["q198_metric_family_readout"](spark, sf).collect()}
    assert set(got) == set(zs)
    for m in zs:
        if zs[m] is None:
            assert got[m]["z"] is None, m
        else:
            assert abs(got[m]["z"] - zs[m]) < 1e-4, m
        assert got[m]["holm_rank"] == order.index(m) + 1
        assert got[m]["significant"] == sig[m], m
        assert abs(got[m]["z_crit"] - _HOLM_CRIT[order.index(m)]) < 1e-6


def test_variance_reduction_report_matches_python_reference(spark):
    """q199 against a numpy recomputation of the three SEs."""
    import datetime
    import numpy as np

    from trafficteach_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    pdf = load_table(spark, sf, "events").select(
        "user_id", "ts", "event_type", "value"
    ).toPandas()
    d0, d1 = pdf.ts.dt.date.min(), pdf.ts.dt.date.max()
    mid = d0 + datetime.timedelta(days=(d1 - d0).days // 2)
    ys, xs = {}, {}
    for r in pdf.itertuples():
        uid = int(r.user_id)
        ys.setdefault(uid, 0.0)
        xs.setdefault(uid, 0.0)
        if r.event_type == "purchase":
            if r.ts.date() > mid:
                ys[uid] += r.value
            else:
                xs[uid] += r.value
    y = np.array([ys[u] for u in sorted(ys)])
    x = np.array([xs[u] for u in sorted(xs)])
    n = len(y)
    theta = np.cov(y, x, ddof=1)[0, 1] / np.var(x, ddof=1)
    yc = y - theta * (x - x.mean())
    lo, hi = np.quantile(y, 0.05), np.quantile(y, 0.95)
    yw = np.clip(y, lo, hi)
    [r] = Q["q199_variance_reduction_report"](spark, sf).collect()
    assert r["n_users"] == n
    assert abs(r["theta"] - theta) < 1e-4
    assert abs(r["se_raw"] - np.sqrt(np.var(y, ddof=1) / n)) < 1e-5
    assert abs(r["se_cuped"] - np.sqrt(np.var(yc, ddof=1) / n)) < 1e-5
    assert abs(r["se_winsor"] - np.sqrt(np.var(yw, ddof=1) / n)) < 1e-5
    # CUPED can never help less than zero by construction on its own
    # training data; winsorized spread can't exceed raw
    assert r["vr_cuped"] >= -1e-9
    assert r["se_winsor"] <= r["se_raw"] + 1e-9


# ---------- round-8 batch P: grouped regression / time travel ----------


def test_discount_elasticity_matches_numpy(spark):
    """q200 against per-brand numpy polyfit slopes at sf0.001."""
    import numpy as np

    from trafficteach_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    li = load_table(spark, sf, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    ).toPandas()
    pt = load_table(spark, sf, "part").select("p_partkey", "p_brand").toPandas()
    df = li.merge(pt, left_on="l_partkey", right_on="p_partkey")
    df = df[(df.l_quantity > 0) & (df.l_extendedprice > 0) & (df.l_discount < 1)]
    df["lq"] = np.log(df.l_quantity.astype(float))
    df["lp"] = np.log(df.l_extendedprice / df.l_quantity * (1 - df.l_discount))
    got = {r["brand"]: r for r in Q["q200_discount_elasticity"](spark, sf).collect()}
    assert set(got) == set(df.p_brand.unique())
    for brand, grp in df.groupby("p_brand"):
        slope, _ = np.polyfit(grp.lp, grp.lq, 1)
        r = np.corrcoef(grp.lp, grp.lq)[0, 1]
        assert got[brand]["n_items"] == len(grp)
        assert abs(got[brand]["elasticity"] - slope) < 1e-4, brand
        assert abs(got[brand]["r2"] - r * r) < 1e-4, brand


def test_asof_snapshot_matches_history_replay(spark):
    """q201 against a pandas replay of 'state as of the midpoint' from
    the raw events — NOT via the q100 operator, so the snapshot
    semantics are independently pinned."""
    import datetime

    from trafficteach_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    pdf = (
        load_table(spark, sf, "events")
        .select("user_id", "ts", "event_id", "event_type")
        .toPandas()
        .sort_values(["user_id", "ts", "event_id"])
    )
    d0, d1 = pdf.ts.dt.date.min(), pdf.ts.dt.date.max()
    at = datetime.datetime.combine(
        d0 + datetime.timedelta(days=(d1 - d0).days // 2),
        datetime.time.min,
    )
    expect = {}
    for uid, grp in pdf.groupby("user_id"):
        # rebuild the 1-based version runs (q100: the first row counts
        # as a change, so versions start at 1)
        runs = []
        version = 0
        prev = None
        for r in grp.itertuples():
            if prev is None or r.event_type != prev:
                version += 1
                runs.append([version, r.event_type, r.ts, 0])
            prev = r.event_type
            runs[-1][3] += 1
        for i, run in enumerate(runs):
            vto = runs[i + 1][2] if i + 1 < len(runs) else None
            if run[2] <= at and (vto is None or vto > at):
                expect[int(uid)] = (run[0], run[1], run[2], run[3])
    got = {r["user_id"]: r for r in Q["q201_asof_snapshot"](spark, sf).collect()}
    assert set(got) == set(expect)
    for uid, (ver, et, vfrom, nev) in expect.items():
        r = got[uid]
        assert (r["version"], r["event_type"], r["n_events"]) == (ver, et, nev), uid
        assert r["valid_from"] == vfrom
    # exactly one state per user in the snapshot
    assert len(got) == len(set(got))


# ---------- round-8 batch Q: governance audits ----------


def test_dedup_method_agreement_matches_constituents(spark):
    """q202 against direct set arithmetic on its two constituent
    registered pipelines at sf0.001."""
    sf = "/root/testdata/sf0.001"
    lex = {
        r["doc_id"]
        for r in Q["q46_dedup_clusters"](spark, sf).collect()
        if r["is_canonical"] == 0
    }
    sem = {
        r["vec_id"]
        for r in Q["q170_semdedup"](spark, sf).collect()
        if r["removed"]
    }
    all_ids = {r["doc_id"] for r in Q["q46_dedup_clusters"](spark, sf).collect()}
    [r] = Q["q202_dedup_method_agreement"](spark, sf).collect()
    assert r["n_docs"] == len(all_ids)
    assert r["n_lexical_dropped"] == len(lex)
    assert r["n_semantic_dropped"] == len(sem)
    assert r["n_both"] == len(lex & sem)
    union = len(lex | sem)
    if union:
        assert abs(r["jaccard"] - len(lex & sem) / union) < 1e-6
    agree = sum(1 for d in all_ids if (d in lex) == (d in sem)) / len(all_ids)
    assert abs(r["pct_agree"] - agree) < 1e-6


def test_sample_representativeness_matches_python_reference(spark):
    """q203 against direct recomputation from the q08 sample and the
    raw events; a deterministic hash sample must not skew event_type
    (|z| small for sampled types). The population is the SAME
    [TS_START, TS_END) window q08 samples from — auditing against the
    full calendar measured window drift, not sampling bias (round-10
    review finding)."""
    import statistics

    from trafficteach_spark.operators.relational import TS_END, TS_START
    from trafficteach_spark.sources.tables import load_events_range

    sf = "/root/testdata/sf0.001"
    pdf = (
        load_events_range(spark, sf, TS_START, TS_END)
        .select("event_type", "value")
        .toPandas()
    )
    smp = Q["q08_stratified_sample"](spark, sf).select(
        "event_type", "value"
    ).toPandas()
    got = {r["event_type"]: r for r in Q["q203_sample_representativeness"](spark, sf).collect()}
    assert set(got) == set(pdf.event_type.unique())
    for et, grp in pdf.groupby("event_type"):
        r = got[et]
        assert r["n_pop"] == len(grp)
        sg = smp[smp.event_type == et]
        assert r["n_sample"] == len(sg)
        assert abs(r["mean_pop"] - grp.value.mean()) < 1e-5
        if len(sg) > 0:
            assert abs(r["mean_sample"] - sg.value.mean()) < 1e-5
            z = (sg.value.mean() - grp.value.mean()) / (
                statistics.stdev(grp.value) / len(sg) ** 0.5
            )
            assert abs(r["z"] - z) < 1e-4
            assert abs(r["z"]) < 4  # unbiased hash sample


# ---------- round 9 additions (q204-q211) ----------


def test_attribution_outer_extends_inner_with_null_bounces(spark):
    """q204 = q68's matched pairs PLUS one NULL-purchase row per
    unconverted view — verified against a plain-pandas replay."""
    from trafficteach_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    pdf = load_table(spark, sf, "events").toPandas()
    views = pdf[pdf.event_type == "view"]
    purchases = pdf[pdf.event_type == "purchase"]
    inner = set()
    matched_views = set()
    for v in views.itertuples():
        for p in purchases[purchases.user_id == v.user_id].itertuples():
            dt_s = (p.ts - v.ts).total_seconds()
            if 0 < dt_s <= 3600:
                inner.add((int(v.event_id), int(p.event_id)))
                matched_views.add(int(v.event_id))
    out = Q["q204_attribution_outer"](spark, sf).collect()
    got_inner = {
        (r["view_id"], r["purchase_id"]) for r in out if r["purchase_id"] is not None
    }
    got_null_views = {r["view_id"] for r in out if r["purchase_id"] is None}
    assert got_inner == inner
    assert got_null_views == set(views.event_id.astype(int)) - matched_views
    # every NULL row nulls ALL purchase columns
    for r in out:
        if r["purchase_id"] is None:
            assert r["purchase_ts"] is None and r["purchase_value"] is None


def test_stream_enrich_matches_pandas_join(spark):
    """q205 against a pandas merge on user_id = c_custkey."""
    from trafficteach_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    ev = load_table(spark, sf, "events").toPandas()
    cust = load_table(spark, sf, "customer").toPandas()
    merged = ev.merge(cust, left_on="user_id", right_on="c_custkey")
    out = Q["q205_stream_enrich"](spark, sf).collect()
    assert len(out) == len(merged)
    want_names = dict(zip(cust.c_custkey.astype(int), cust.c_name))
    for r in out[:50]:
        assert r["user_name"] == want_names[r["user_id"]]


def test_sparse_cosine_matches_numpy_reference(spark):
    """q206 against a dense numpy TF-IDF cosine over all pairs at
    sf0.001 (the brute-force the inverted index must reproduce above
    the threshold, given the same df cap)."""
    import math as _m

    import numpy as np

    from trafficteach_spark.operators.llm.text import (
        _SPARSE_COS_MIN,
        _SPARSE_DF_ABS,
        _SPARSE_W_SCALE,
    )
    from trafficteach_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents").select("doc_id", "text").toPandas()
    docs = docs[docs.text.notna()]
    n_docs = len(docs)
    tf = {}
    df = {}
    for r in docs.itertuples():
        counts = {}
        for t in r.text.split(" "):
            counts[t] = counts.get(t, 0) + 1
        tf[int(r.doc_id)] = counts
        for t in counts:
            df[t] = df.get(t, 0) + 1
    kept = {t for t, d in df.items() if d * 10 <= n_docs and d <= _SPARSE_DF_ABS}
    vecs = {
        d: {
            t: round(c * _m.log((n_docs + 1.0) / (df[t] + 1.0)) * _SPARSE_W_SCALE)
            for t, c in counts.items()
            if t in kept
        }
        for d, counts in tf.items()
    }
    want = {}
    ids = sorted(vecs)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            shared = set(vecs[a]) & set(vecs[b])
            if not shared:
                continue
            dot = sum(vecs[a][t] * vecs[b][t] for t in shared)
            na = _m.sqrt(sum(w * w for w in vecs[a].values()))
            nb = _m.sqrt(sum(w * w for w in vecs[b].values()))
            if na > 0 and nb > 0 and dot / (na * nb) >= _SPARSE_COS_MIN:
                want[(a, b)] = dot / (na * nb)
    got = {
        (r["doc_a"], r["doc_b"]): r["cosine"]
        for r in Q["q206_sparse_cosine"](spark, sf).collect()
    }
    assert set(got) == set(want)
    assert want, "fixture must contain at least one near-dup pair"
    for k, c in got.items():
        assert abs(c - want[k]) < 1e-5
        assert _SPARSE_COS_MIN <= c <= 1.0 + 1e-9


def test_bh_fdr_admits_at_least_holm_discoveries(spark):
    """BH (FDR, step-up) must declare significant a SUPERSET of Holm's
    (FWER, step-down) discoveries on the same z values, and the step-up
    rule must replay in Python from the reported z and thresholds."""
    sf = "/root/testdata/sf0.001"
    holm = {r["metric"]: r for r in Q["q198_metric_family_readout"](spark, sf).collect()}
    bh = {r["metric"]: r for r in Q["q207_bh_fdr"](spark, sf).collect()}
    assert set(holm) == set(bh) == {"conv", "revenue", "events", "active_days"}
    for m in holm:
        if holm[m]["z"] is None:  # degenerate variance -> NULL z, never sig
            assert bh[m]["z"] is None
            assert holm[m]["significant"] == 0
        else:
            assert abs(holm[m]["z"] - bh[m]["z"]) < 1e-9  # same family body
        if holm[m]["significant"]:
            assert bh[m]["significant"] == 1
    ranked = sorted(bh.values(), key=lambda r: r["bh_rank"])
    passing = [
        r["bh_rank"] for r in ranked if r["z"] is not None and abs(r["z"]) > r["z_crit"]
    ]
    k_star = max(passing, default=0)
    for r in ranked:
        assert r["significant"] == (1 if r["bh_rank"] <= k_star else 0)


def test_position_attribution_conserves_value_and_shapes_u(spark):
    """q208: per-purchase credit sums to the purchase value (every
    purchase with >=1 in-horizon view distributes exactly 100%), and
    the 40/20/40 split replays in Python."""
    from collections import defaultdict

    from trafficteach_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    pdf = load_table(spark, sf, "events").toPandas()
    views = pdf[pdf.event_type == "view"]
    purchases = pdf[pdf.event_type == "purchase"]
    touches = defaultdict(list)  # purchase_id -> [(view_ts, view_id, value)]
    for v in views.itertuples():
        for p in purchases[purchases.user_id == v.user_id].itertuples():
            dt_s = (p.ts - v.ts).total_seconds()
            if 0 < dt_s <= 3600:
                touches[int(p.event_id)].append((v.ts, int(v.event_id), p.value))
    want = defaultdict(float)
    n_touched = defaultdict(int)
    for _pid, tl in touches.items():
        tl.sort()
        n = len(tl)
        for pos, (_ts, vid, val) in enumerate(tl, start=1):
            share = (
                1.0 if n == 1 else 0.5 if n == 2
                else 0.4 if pos in (1, n) else 0.2 / (n - 2)
            )
            want[vid] += val * share
            n_touched[vid] += 1
    got = {r["view_id"]: r for r in Q["q208_position_attribution"](spark, sf).collect()}
    assert set(got) == set(want)
    for vid, r in got.items():
        assert abs(r["credit"] - want[vid]) < 1e-4
        assert r["n_purchases"] == n_touched[vid]
    total_value = sum(tl[0][2] for tl in touches.values())
    assert abs(sum(r["credit"] for r in got.values()) - total_value) < 1e-3


def test_cvm_drift_matches_python_reference(spark):
    """q209 against a Python replay of the binned two-sample CvM."""
    import math as _m

    from trafficteach_spark.operators.analytics import _KS_VALUE_BIN
    from trafficteach_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    pdf = load_table(spark, sf, "events").toPandas()
    us = pdf.ts.astype("int64") // 1000  # epoch micros
    mid = (us.min() + us.max()) // 2
    pdf = pdf.assign(bin=(pdf.value / _KS_VALUE_BIN).apply(_m.floor), first=us < mid)
    out = {r["event_type"]: r for r in Q["q209_cvm_drift"](spark, sf).collect()}
    for et, grp in pdf.groupby("event_type"):
        c1 = grp[grp["first"]].groupby("bin").size()
        c2 = grp[~grp["first"]].groupby("bin").size()
        bins = sorted(set(c1.index) | set(c2.index))
        t1, t2 = int(c1.sum()), int(c2.sum())
        cum1 = cum2 = 0
        t = 0.0
        for b in bins:
            cum1 += int(c1.get(b, 0))
            cum2 += int(c2.get(b, 0))
            ct = int(c1.get(b, 0)) + int(c2.get(b, 0))
            gap = cum1 / t1 - cum2 / t2
            t += ct * gap * gap
        stat = t1 * t2 / ((t1 + t2) ** 2) * t
        r = out[et]
        assert (r["n_first"], r["n_second"]) == (t1, t2)
        assert abs(r["cvm_stat"] - stat) < 1e-5
        assert r["cvm_stat"] >= 0


def test_info_gain_matches_python_entropy(spark):
    """q210 against a Python entropy replay; IG must be >= 0 (within
    rounding) for every feature."""
    import math as _m
    from collections import Counter

    from trafficteach_spark.operators.analytics import _IG_VALUE_BIN
    from trafficteach_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    pdf = load_table(spark, sf, "events").toPandas()
    y = (pdf.event_type == "purchase").astype(int)

    def h(counts):
        n = sum(counts)
        return -sum(c / n * _m.log(c / n) for c in counts if c)

    feats = {
        "hour": pdf.ts.dt.hour,
        "value_bin": (pdf.value / _IG_VALUE_BIN).apply(_m.floor),
    }
    out = {r["feature"]: r for r in Q["q210_info_gain"](spark, sf).collect()}
    assert set(out) == {"hour", "dow", "value_bin"}
    h_label = h([int((y == 0).sum()), int((y == 1).sum())])
    for name, f in feats.items():
        cond = 0.0
        n = len(f)
        for _v, idx in pdf.groupby(f).groups.items():
            sub = y.loc[idx]
            cond += len(sub) / n * h([int((sub == 0).sum()), int((sub == 1).sum())])
        r = out[name]
        assert abs(r["h_label"] - h_label) < 1e-5
        assert abs(r["h_cond"] - cond) < 1e-5
        assert abs(r["info_gain"] - (h_label - cond)) < 1e-5
        assert r["info_gain"] >= -1e-6
        assert Counter(f).total() == r["n_rows"]


def test_tokenizer_coverage_matches_python_reference(spark):
    """q211 against a Python vocab-coverage replay."""
    from collections import Counter

    from trafficteach_spark.operators.llm.corpus import _COVERAGE_VOCAB_K
    from trafficteach_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents").select("source", "text").toPandas()
    docs = docs[docs.text.notna()]
    cnt = Counter()
    per_src = {}
    for r in docs.itertuples():
        toks = r.text.split(" ")
        cnt.update(toks)
        per_src.setdefault(r.source, Counter()).update(toks)
    vocab = {
        t for t, _c in sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[:_COVERAGE_VOCAB_K]
    }
    out = {r["source"]: r for r in Q["q211_tokenizer_coverage"](spark, sf).collect()}
    assert set(out) == set(per_src)
    for src, c in per_src.items():
        n_tok = sum(c.values())
        n_cov = sum(v for t, v in c.items() if t in vocab)
        r = out[src]
        assert r["n_tokens"] == n_tok
        assert r["n_covered"] == n_cov
        assert abs(r["coverage"] - n_cov / n_tok) < 1e-5
        assert r["n_oov_types"] == sum(1 for t in c if t not in vocab)
        assert 0.0 <= r["coverage"] <= 1.0


def test_bradley_terry_matches_python_mm(spark):
    """q212 against a plain-Python replay of the contest derivation and
    the Hunter-2004 MM iterations at sf0.001."""
    from collections import Counter, defaultdict

    from trafficteach_spark.operators.sequences import _BT_ITERS, _BT_SMOOTH
    from trafficteach_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    pdf = load_table(spark, sf, "events").select("user_id", "event_type").toPandas()
    cnt = Counter(zip(pdf["user_id"], pdf["event_type"]))
    per_user = defaultdict(dict)
    for (u, t), c in cnt.items():
        per_user[u][t] = c
    wc = Counter()
    for u, tc in per_user.items():
        types = sorted(tc)
        for i, ta in enumerate(types):
            for tb in types[i + 1 :]:
                if tc[ta] != tc[tb]:
                    w, l = (ta, tb) if tc[ta] > tc[tb] else (tb, ta)
                    wc[(w, l)] += 1
    items = sorted({t for pair in wc for t in pair})
    pw = {
        (i, j): _BT_SMOOTH + wc.get((i, j), 0)
        for i in items
        for j in items
        if i != j
    }
    wins = {i: sum(w for (a, _), w in pw.items() if a == i) for i in items}
    p = {i: 1.0 / len(items) for i in items}
    for _ in range(_BT_ITERS):
        den = {
            i: sum(
                (pw[(i, j)] + pw[(j, i)]) / (p[i] + p[j])
                for j in items
                if j != i
            )
            for i in items
        }
        praw = {i: wins[i] / den[i] for i in items}
        tot = sum(praw.values())
        p = {i: v / tot for i, v in praw.items()}
    got = {r["event_type"]: r for r in Q["q212_bradley_terry"](spark, sf).collect()}
    assert set(got) == set(items)
    for i in items:
        assert got[i]["n_wins"] == sum(w for (a, _), w in wc.items() if a == i)
        assert got[i]["n_contests"] == sum(
            w for pair, w in wc.items() if i in pair
        )
        assert abs(got[i]["strength"] - p[i]) < 1e-5
    assert abs(sum(r["strength"] for r in got.values()) - 1.0) < 1e-4


def test_filter_agreement_matches_python_kappa(spark):
    """q213 against a plain-Python replay of both rule batteries."""
    import re as _re

    from trafficteach_spark.operators.llm.text import (
        _EN_STOPWORDS,
        _GOPHER_MAX_WLEN,
        _GOPHER_MAX_WORDS,
        _GOPHER_MIN_ALPHA,
        _GOPHER_MIN_STOP,
        _GOPHER_MIN_WLEN,
        _GOPHER_MIN_WORDS,
    )
    from trafficteach_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    pdf = load_table(spark, sf, "documents").select("text").toPandas()
    n = na = nb = nab = nrej = 0
    for text in pdf["text"]:
        if text is None:
            continue
        w = text.split(" ")
        nw = len(w)
        mwl = round(len(text.replace(" ", "")) / nw, 6)
        nstop = sum(1 for x in w if x in _EN_STOPWORDS[:2])
        alpha = round(
            sum(1 for x in w if _re.fullmatch("[a-z]+", x)) / nw, 6
        )
        uniq = round(len(set(w)) / nw, 6)
        a = (
            _GOPHER_MIN_WORDS <= nw <= _GOPHER_MAX_WORDS
            and _GOPHER_MIN_WLEN <= mwl <= _GOPHER_MAX_WLEN
            and nstop >= _GOPHER_MIN_STOP
            and alpha >= _GOPHER_MIN_ALPHA
        )
        b = nw >= 30 and uniq >= 0.35
        n += 1
        na += a
        nb += b
        nab += a and b
        nrej += (not a) and (not b)
    po = (nab + nrej) / n
    pa, pb = na / n, nb / n
    pe = pa * pb + (1 - pa) * (1 - pb)
    [r] = Q["q213_filter_agreement"](spark, sf).collect()
    assert (r["n_docs"], r["n_gopher_pass"], r["n_quality_pass"], r["n_both_pass"]) == (
        n,
        na,
        nb,
        nab,
    )
    assert abs(r["po"] - po) < 1e-6
    assert abs(r["kappa"] - (po - pe) / (1 - pe)) < 1e-5


def test_kendall_tau_matches_python_pairs(spark):
    """q214 against the O(n^2) pairwise tau-b definition."""
    from collections import defaultdict
    from decimal import Decimal

    from trafficteach_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    cust = load_table(spark, sf, "customer").select("c_custkey", "c_nationkey").toPandas()
    orders = load_table(spark, sf, "orders").select("o_custkey", "o_totalprice").toPandas()
    nat = dict(zip(cust["c_custkey"], cust["c_nationkey"]))
    rev, cntr = defaultdict(Decimal), defaultdict(int)
    for r in orders.itertuples():
        nk = nat.get(r.o_custkey)
        if nk is None:
            continue
        rev[nk] += Decimal(str(r.o_totalprice)).quantize(Decimal("0.01"))
        cntr[nk] += 1
    ks = sorted(rev)
    c = d = tx = ty = 0
    for i, a in enumerate(ks):
        for b in ks[i + 1 :]:
            xa, xb, ya, yb = rev[a], rev[b], cntr[a], cntr[b]
            if xa == xb:
                tx += 1
            if ya == yb:
                ty += 1
            if (xa < xb and ya < yb) or (xa > xb and ya > yb):
                c += 1
            elif (xa < xb and ya > yb) or (xa > xb and ya < yb):
                d += 1
    n0 = len(ks) * (len(ks) - 1) // 2
    [r] = Q["q214_kendall_tau"](spark, sf).collect()
    assert (r["n_groups"], r["n_pairs"]) == (len(ks), n0)
    assert (r["concordant"], r["discordant"]) == (c, d)
    assert (r["ties_x"], r["ties_y"]) == (tx, ty)
    tau = (c - d) / ((n0 - tx) * (n0 - ty)) ** 0.5
    assert abs(r["tau_b"] - tau) < 1e-5
    assert -1.0 <= r["tau_b"] <= 1.0


def test_kruskal_wallis_matches_python_ranks(spark):
    """q215 against a scipy-free average-rank replay."""
    from collections import Counter, defaultdict

    from trafficteach_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    pdf = load_table(spark, sf, "documents").select("source", "n_chars").toPandas()
    vals = sorted(pdf["n_chars"])
    avg_rank, cum = {}, 0
    for v, cgrp in sorted(Counter(vals).items()):
        avg_rank[v] = cum + (cgrp + 1) / 2.0
        cum += cgrp
    groups = defaultdict(list)
    for r in pdf.itertuples():
        groups[r.source].append(avg_rank[r.n_chars])
    n = len(vals)
    h = 12.0 / (n * (n + 1)) * sum(
        sum(rs) ** 2 / len(rs) for rs in groups.values()
    ) - 3 * (n + 1)
    t3t = sum(c**3 - c for c in Counter(vals).values())
    h_adj = h / (1 - t3t / (n**3 - n))
    [r] = Q["q215_kruskal_wallis"](spark, sf).collect()
    assert (r["n_groups"], r["n_total"]) == (len(groups), n)
    assert abs(r["h"] - h) < 1e-5
    assert abs(r["h_adj"] - h_adj) < 1e-5


def test_user_state_batch_matches_pandas_replay(spark):
    """q216 against a pandas groupby replay with the (ts, event_id)
    last-row tie-break."""
    from trafficteach_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    pdf = load_table(spark, sf, "events").select(
        "event_id", "user_id", "event_type", "ts", "value"
    ).toPandas()
    got = {r["user_id"]: r for r in Q["q216_user_state_batch"](spark, sf).collect()}
    assert set(got) == set(pdf["user_id"])
    for uid, g in pdf.groupby("user_id"):
        last = g.sort_values(["ts", "event_id"]).iloc[-1]
        r = got[uid]
        assert r["n_events"] == len(g)
        assert abs(r["sum_value"] - round(float(g["value"].sum()), 6)) < 1e-5
        assert r["last_ts"] == last["ts"].to_pydatetime()
        assert r["last_event_type"] == last["event_type"]


def test_average_precision_matches_python_reference(spark):
    """q217 against the sklearn-style threshold-sum AP replayed in
    plain Python (and consistency with q196's population counts)."""
    from collections import defaultdict

    from trafficteach_spark.operators.sequences import _JK_VALUE
    from trafficteach_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    pdf = load_table(spark, sf, "events").select(
        "user_id", "event_type", "value"
    ).toPandas()
    score, label = defaultdict(int), defaultdict(bool)
    for r in pdf.itertuples():
        score[r.user_id] += 1
        if r.event_type == "purchase" and r.value >= _JK_VALUE:
            label[r.user_id] = True
    by_score = defaultdict(lambda: [0, 0])
    for u, s in score.items():
        by_score[s][0] += 1
        by_score[s][1] += label[u]
    npos = sum(p for _, p in by_score.values())
    cum_n = cum_p = 0
    ap = 0.0
    for s in sorted(by_score, reverse=True):
        cgrp, p = by_score[s]
        cum_n += cgrp
        cum_p += p
        ap += p * (cum_p / cum_n)
    ap /= npos
    [r] = Q["q217_average_precision"](spark, sf).collect()
    assert (r["n_pos"], r["n_neg"]) == (npos, len(score) - npos)
    assert abs(r["average_precision"] - ap) < 1e-5
    # Prevalence is the EXPECTED AP of a random ranking, not a lower
    # bound (an anti-correlated score legitimately lands below it), so
    # only the hard range invariant is assertable.
    assert 0.0 < r["average_precision"] <= 1.0
    assert abs(r["prevalence"] - npos / len(score)) < 1e-9


def test_xcorr_lag_matches_numpy(spark):
    """q218 against numpy Pearson r on the shifted daily series."""
    import numpy as np

    from trafficteach_spark.operators.timeseries import _XCORR_MAX_LAG
    from trafficteach_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    pdf = load_table(spark, sf, "events").select("ts", "event_type").toPandas()
    pdf["day"] = pdf["ts"].dt.normalize()
    days = sorted(pdf["day"].unique())
    x = {d: 0 for d in days}
    y = {d: 0 for d in days}
    for r in pdf.itertuples():
        if r.event_type == "view":
            x[r.day] += 1
        elif r.event_type == "purchase":
            y[r.day] += 1
    got = {r["lag"]: r for r in Q["q218_xcorr_lag"](spark, sf).collect()}
    assert set(got) == set(range(-_XCORR_MAX_LAG, _XCORR_MAX_LAG + 1))
    import pandas as pd

    for lag in (-3, 0, 2):
        xs, ys = [], []
        for d in days:
            d2 = d + pd.Timedelta(days=lag)
            if d2 in y:
                xs.append(x[d])
                ys.append(y[d2])
        r = got[lag]
        assert r["n_days"] == len(xs)
        if len(xs) >= 2 and np.std(xs) > 0 and np.std(ys) > 0:
            assert abs(r["r"] - float(np.corrcoef(xs, ys)[0, 1])) < 1e-5


def test_hard_negatives_matches_python_buckets(spark):
    """q219 against a plain-Python replay of the sign-LSH bucketing and
    the within-bucket cross-label argmax."""
    from trafficteach_spark.operators.llm.similarity import _PLANES
    from trafficteach_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    pdf = load_table(spark, sf, "embeddings").toPandas()
    vecs, labels, buckets = {}, {}, {}
    for r in pdf.itertuples():
        v = [float(xx) for xx in r.embedding]
        vecs[r.vec_id] = v
        labels[r.vec_id] = r.label
        b = 0
        for i, plane in enumerate(_PLANES):
            dot = 0.0
            for xx, pp in zip(v, plane):
                dot += xx * pp
            if dot > 0:
                b += 1 << i
        buckets[r.vec_id] = b
    def cos(a, b):
        da = sum(x * x for x in vecs[a]) ** 0.5
        db = sum(x * x for x in vecs[b]) ** 0.5
        return round(sum(x * y for x, y in zip(vecs[a], vecs[b])) / (da * db), 6)
    got = {r["vec_id"]: r for r in Q["q219_hard_negatives"](spark, sf).collect()}
    assert set(got) == set(vecs)
    n_with_neg = 0
    for vid in vecs:
        cands = [
            n
            for n in vecs
            if n != vid
            and buckets[n] == buckets[vid]
            and labels[n] != labels[vid]
        ]
        r = got[vid]
        assert r["label"] == labels[vid]
        if not cands:
            assert r["hard_neg_id"] is None
            continue
        n_with_neg += 1
        best = max(cands, key=lambda n: (cos(vid, n), -n))
        assert r["hard_neg_id"] == best
        assert r["hard_neg_label"] == labels[best]
        assert abs(r["hard_neg_cos"] - cos(vid, best)) < 1e-6
    assert n_with_neg > 0  # the fixture must exercise the mining path


def test_adaptive_lsh_depth_ladder_cross_engine(spark):
    """q219's corpus-adaptive plane count: the integer CASE ladder must
    (a) equal max(8, ceil(log2(ceil(N/32)))) clamped to the 20-plane
    pool, (b) evaluate identically in Spark and DuckDB (it is embedded
    in both the query and its oracle), and (c) leave every test-SF
    corpus at the fixed 8-bit geometry so the shared q32 index story —
    and the pinned q219 digests — hold."""
    import math

    import duckdb

    from trafficteach_spark.operators.llm.similarity import (
        _MINE_TARGET_BUCKET,
        _PLANE_POOL,
        _PLANES,
        _POOL_PLANES,
        _nbits_case_sql,
    )

    # Pool prefix property: the first 8 pool planes ARE the fixed
    # search geometry (same seed, same draw order), so nbits=8
    # reproduces _bucket_expr bit-for-bit.
    assert _PLANE_POOL[: len(_PLANES)] == _PLANES
    assert len(_PLANE_POOL) == _POOL_PLANES

    grid = [1, 2, 255, 256, 257, 500, 2000, 5000, 8192, 8193, 20000,
            200000, 2_000_000, 33_554_432, 33_554_433, 10**9]
    expr = _nbits_case_sql("n")
    con = duckdb.connect()
    for n in grid:
        expected = max(
            8,
            min(
                _POOL_PLANES,
                math.ceil(math.log2(math.ceil(n / _MINE_TARGET_BUCKET)))
                if n > _MINE_TARGET_BUCKET
                else 0,
            ),
        )
        got_spark = spark.sql(
            f"SELECT {expr} AS nb FROM (SELECT CAST({n} AS BIGINT) AS n)"
        ).collect()[0]["nb"]
        got_duck = con.execute(
            f"SELECT {expr} AS nb FROM (SELECT CAST({n} AS BIGINT) AS n)"
        ).fetchone()[0]
        assert got_spark == got_duck == expected, (n, got_spark, got_duck, expected)
    # Test SFs stay on the fixed geometry (500 / 5000 / 2000 vectors).
    for n in (500, 2000, 5000):
        assert (
            spark.sql(
                f"SELECT {expr} AS nb FROM (SELECT CAST({n} AS BIGINT) AS n)"
            ).collect()[0]["nb"]
            == 8
        )


def test_result_partitioning_invariance(spark):
    """Registered-query results must not depend on the PHYSICAL
    partitioning: rerun a cross-family sample at sf0.001 under a
    hostile shuffle-partition count (7) with AQE off and assert the
    canonicalized row multiset is identical to the default-conf run.
    This catches FP-accumulation-order and per-partition-logic
    nondeterminism the DuckDB oracle can miss — parity only ever sees
    ONE Spark partitioning. The sampled keys deliberately span the
    fragile families: iterative fixed point (q212), HOF sequential
    folds (q92, q19), double aggregates under round() (q103, q140),
    integer-exact similarity joins (q206), adaptive-LSH mining (q219),
    and cumulative-window devices (q217, q218)."""
    from tools.parity import _canon
    from trafficteach_spark.registry import queries
    from trafficteach_spark.session import cache_scope

    keys = [
        "q19_funnel",
        "q31_near_dedup",
        "q92_ewma",
        "q103_corr_matrix",
        "q140_rfm_segmentation",
        "q206_sparse_cosine",
        "q212_bradley_terry",
        "q217_average_precision",
        "q218_xcorr_lag",
        "q219_hard_negatives",
    ]
    sf = "/root/testdata/sf0.001"
    qs = queries()

    def snapshot(key):
        with cache_scope(spark):
            df = qs[key](spark, sf)
            return sorted(tuple(_canon(v) for v in row) for row in df.collect())

    conf = spark.conf
    saved = {
        "spark.sql.shuffle.partitions": conf.get("spark.sql.shuffle.partitions"),
        "spark.sql.adaptive.enabled": conf.get("spark.sql.adaptive.enabled"),
    }
    base = {k: snapshot(k) for k in keys}
    try:
        conf.set("spark.sql.shuffle.partitions", "7")
        conf.set("spark.sql.adaptive.enabled", "false")
        for k in keys:
            hostile = snapshot(k)
            assert hostile == base[k], (
                f"{k}: result depends on partitioning "
                f"({len(hostile)} vs {len(base[k])} rows or value drift)"
            )
    finally:
        for key_, v in saved.items():
            conf.set(key_, v)


def test_dsir_null_source_counts_as_raw(spark, tmp_path):
    """q169 on a hand fixture WITH a NULL-source document (the driver
    testdata has none, so the parity sweep cannot guard this): the
    NULL-source doc's bigrams must land in the RAW denominator in BOTH
    engines and the doc must receive a weight row. Pins the coalesce
    fix — a bare isin()/IN yields NULL for a NULL source, silently
    dropping those tokens from cr on the Spark side while the oracle's
    CASE counted them."""
    import duckdb

    from trafficteach_spark import registry, schemas

    rows = [
        (1, "alpha beta gamma", "en", "src1", 16),       # target
        (2, "alpha beta delta", "en", "other", 16),      # raw
        (3, "alpha beta gamma delta", "en", None, 22),   # NULL source -> raw
    ]
    spark.createDataFrame(rows, schemas.DOCUMENTS).coalesce(1).write.parquet(
        str(tmp_path / "documents.parquet")
    )
    got = {
        r["doc_id"]: r
        for r in Q["q169_dsir_weights"](spark, str(tmp_path)).collect()
    }
    # Raw-side docs only (the weight frame scores the raw corpus), and
    # the NULL-source doc is IN it, not silently dropped.
    assert set(got) == {2, 3}

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{tmp_path}/documents.parquet/*.parquet')"
    )
    oracle = {
        r[0]: r
        for r in con.execute(
            registry.all_specs()["q169_dsir_weights"].oracle
        ).fetchall()
    }
    assert set(oracle) == {2, 3}
    for did in (2, 3):
        srow, orow = got[did], oracle[did]
        assert [str(v) for v in srow] == [str(v) for v in orow], (srow, orow)


def test_hash_split_custom_id_col(spark):
    """hash_split's per-column expression generation: a non-default
    id_col must hash THAT column's value — equal ids get equal splits
    across different column names, and the generated SQL is not textual
    surgery on the doc_id default."""
    from trafficteach_spark.operators.llm.corpus import hash_split

    a = spark.createDataFrame([(i,) for i in range(200)], "doc_id long")
    b = spark.createDataFrame([(i,) for i in range(200)], "user_key long")
    sa = {r["doc_id"]: r["split"] for r in hash_split(a).collect()}
    sb = {
        r["user_key"]: r["split"]
        for r in hash_split(b, id_col="user_key").collect()
    }
    assert sa == sb
    assert set(sa.values()) == {"train", "val", "test"}


def test_kruskal_wallis_one_document_corpus_yields_null_not_crash(spark, tmp_path):
    """q215 on a 1-document corpus: the tie-correction divisor n^3 - n
    is 0, which ANSI Spark turns into a DIVIDE_BY_ZERO crash unless
    try_divide guards it — the oracle (NULLIF) yields h_adj = NULL, and
    so must we. Pins the degenerate-fixture lesson (q142/q103) for the
    k-group rank test."""
    from trafficteach_spark import schemas

    spark.createDataFrame(
        [(1, "one doc", "en", "src1", 7)], schemas.DOCUMENTS
    ).coalesce(1).write.parquet(str(tmp_path / "documents.parquet"))
    rows = Q["q215_kruskal_wallis"](spark, str(tmp_path)).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["n_groups"] == 1 and r["n_total"] == 1
    assert r["h"] == 0.0
    assert r["h_adj"] is None


def test_lcg_mix_no_overflow_at_replica_ids(spark):
    """The q08/q79 LCG mixes must evaluate on ids past 2^63/1103515245
    (~8.36e9) — the repo's own gen_scale replicas produce event_ids
    >= 9e9, where the unreduced (id * a) % m form ANSI-crashes. The
    pre-mod form is value-identical: (x % m)*a % m == x*a % m."""
    from trafficteach_spark.operators.sampling import _MIX, _WMIX

    df = spark.createDataFrame(
        [(9_000_100_000,), (7,), (2**62,)], "event_id long"
    ).withColumn("o_orderkey", F.col("event_id"))
    rows = df.selectExpr(f"{_MIX} AS m", f"{_WMIX} AS w").collect()
    for r in rows:
        assert 0 <= r["m"] < 2**31 and 0 <= r["w"] < 2**31
    # Value-identity with the unreduced form where IT still fits:
    small = spark.createDataFrame([(7,), (123456,)], "event_id long")
    got = small.selectExpr(f"{_MIX} AS m").collect()
    for (eid,), r in zip([(7,), (123456,)], got):
        assert r["m"] == (eid * 1103515245 + 12345) % 2147483648


def test_speed_decile_udf_matches_sql_on_nulls_and_negatives(spark):
    """q23's Arrow UDF must follow SQL semantics off the happy path:
    truncated modulo on negatives (numpy's floored % gives 9 where both
    engines give -1) and NULL-in -> NULL-out (a bare int64 astype raises
    on NaN, failing the query where the oracle emits a NULL group)."""
    from trafficteach_spark.operators.udx import _speed_decile

    df = spark.createDataFrame(
        [(-0.5,), (None,), (13.2,), (0.0,)], "value double"
    )
    got = [
        r["d"]
        for r in df.select(_speed_decile(F.col("value")).alias("d")).collect()
    ]
    want = [
        r[0]
        for r in spark.sql(
            "SELECT CAST(floor(v) AS BIGINT) % 10 FROM "
            "VALUES (-0.5D), (CAST(NULL AS DOUBLE)), (13.2D), (0.0D) t(v)"
        ).collect()
    ]
    assert got == want == [-1, None, 3, 0]


def test_asof_join_excludes_null_times(spark):
    """asof_join's NULL-time contract (pandas merge_asof raises on null
    keys; DuckDB ASOF never matches them): a right row with NULL `on`
    must not be carried to any left row — before the fix it sorted
    NULLS FIRST, its struct was NON-null, and last(ignorenulls) matched
    it to every left row before the first real right row. A NULL-time
    left row is likewise excluded, even under how='left'."""
    import datetime as dt

    from trafficteach_spark.operators.sequences import asof_join

    t = lambda m: dt.datetime(2024, 1, 1, 10, m)
    left = spark.createDataFrame(
        [(1, t(5), "L5"), (1, t(20), "L20"), (1, None, "LNULL")],
        "k int, ts timestamp_ntz, lv string",
    )
    right = spark.createDataFrame(
        [(1, None, "RNULL"), (1, t(10), "R10")],
        "k int, ts timestamp_ntz, rv string",
    )
    inner = asof_join(left, right, on="ts", by="k", direction="backward")
    rows = {r["lv"]: r["rv"] for r in inner.collect()}
    # L5 precedes every real right row -> unmatched (NOT matched to RNULL);
    # L20 matches R10; LNULL is excluded entirely.
    assert rows == {"L20": "R10"}
    outer = asof_join(
        left, right, on="ts", by="k", direction="backward", how="left"
    )
    orows = {r["lv"]: r["rv"] for r in outer.collect()}
    assert orows == {"L5": None, "L20": "R10"}


def test_asof_join_excludes_null_by_keys(spark):
    """NULL-by-key contract (round-11 review finding): the window's
    partitionBy groups ALL NULL keys into one partition, so without the
    filter a NULL-key left row asof-matches a NULL-key right row — a
    phantom match under the pinned equi-join semantics (DuckDB ASOF
    `ON l.k = r.k` and pandas merge_asof never match NULL keys). NULL-
    key rows must vanish from inner output and stay unmatched nowhere
    (excluded entirely, like NULL times)."""
    import datetime as dt

    from trafficteach_spark.operators.sequences import asof_join

    t = lambda m: dt.datetime(2024, 1, 1, 10, m)
    left = spark.createDataFrame(
        [(None, t(10), "LNULLKEY"), (1, t(10), "L1")],
        "k int, ts timestamp_ntz, lv string",
    )
    right = spark.createDataFrame(
        [(None, t(5), "RNULLKEY"), (1, t(5), "R1")],
        "k int, ts timestamp_ntz, rv string",
    )
    inner = asof_join(left, right, on="ts", by="k", direction="backward")
    rows = {r["lv"]: r["rv"] for r in inner.collect()}
    assert rows == {"L1": "R1"}, rows
    outer = asof_join(
        left, right, on="ts", by="k", direction="backward", how="left"
    )
    orows = {r["lv"]: r["rv"] for r in outer.collect()}
    # NULL-key left rows are excluded even under how='left' — the same
    # treatment as NULL times (they cannot equi-match anything).
    assert orows == {"L1": "R1"}, orows


def test_ab_counts_mirror_oracle_filter_semantics_on_empty_arm(spark, tmp_path):
    """q110/q138 empty-arm and empty-corpus NULL semantics (round-11
    review finding): the oracle's COUNT(*) FILTER reads 0 on an empty
    corpus and SUM(conv) FILTER reads NULL on an empty arm; the Spark
    side must agree cell-for-cell. Planted fixture: user_ids chosen so
    BOTH land in arm 1 (md5 bucketing), leaving arm 0 empty."""
    import datetime as dt

    from trafficteach_spark import schemas
    from trafficteach_spark.operators.sequences import _AB_HASH_SPARK

    base = dt.datetime(2024, 1, 10, 12, 0, 0, tzinfo=dt.timezone.utc)
    ns = int(base.timestamp()) * 10**9
    # find two user ids that hash to arm 1
    cand = spark.createDataFrame([(i,) for i in range(1, 40)], "user_id long")
    arm1 = [
        r["user_id"]
        for r in cand.select("user_id", F.expr(_AB_HASH_SPARK).alias("v"))
        .where(F.col("v") == 1)
        .collect()
    ][:2]
    assert len(arm1) == 2
    rows = [
        (1, ns, arm1[0], "purchase", 5.0, None),
        (2, ns, arm1[1], "view", 1.0, None),
    ]
    spark.createDataFrame(rows, schemas.EVENTS_PHYSICAL).coalesce(1).write.parquet(
        str(tmp_path / "events.parquet")
    )
    r110 = Q["q110_ab_lift"](spark, str(tmp_path)).collect()[0]
    assert r110["n_a"] == 0 and r110["n_b"] == 2
    assert r110["conv_a"] is None  # SUM FILTER over an empty arm
    assert r110["conv_b"] == 1
    assert r110["rate_a"] is None and r110["z"] is None
    r138 = Q["q138_srm_check"](spark, str(tmp_path)).collect()[0]
    assert r138["n_a"] == 0 and r138["n_b"] == 2
    # empty corpus: counts must read 0 (not NULL), like COUNT(*) FILTER
    empty = tmp_path / "empty"
    empty.mkdir()
    spark.createDataFrame([], schemas.EVENTS_PHYSICAL).coalesce(1).write.parquet(
        str(empty / "events.parquet")
    )
    e110 = Q["q110_ab_lift"](spark, str(empty)).collect()[0]
    assert e110["n_a"] == 0 and e110["n_b"] == 0
    assert e110["conv_a"] is None and e110["conv_b"] is None
    e138 = Q["q138_srm_check"](spark, str(empty)).collect()[0]
    assert e138["n_a"] == 0 and e138["n_b"] == 0


def test_analytics_null_dirt_matches_oracle(spark, tmp_path):
    """Round-11 analytics sweep: six queries diverged from their oracles
    on dirty rows the clean fixture never exercises — NULL ts (half-
    split side counts, cohort weeks, lifecycle lag, KM durations), NULL
    value (ECDF bins, Wilson successes), NULL user_id (cohort join).
    One planted fixture drives all of them through the DuckDB oracle
    side-by-side; values must match cell-for-cell (repr-canonicalized,
    floats pre-rounded by the queries themselves)."""
    import datetime as dt

    from trafficteach_spark import registry, schemas

    base = dt.datetime(2024, 1, 8, 12, 0, 0, tzinfo=dt.timezone.utc)

    def ns(days, hours=0):
        return int((base + dt.timedelta(days=days, hours=hours)).timestamp()) * 10**9

    rows = [
        # (event_id, ts_ns, user_id, event_type, value, props)
        (1, ns(0), 1, "view", 10.0, None),
        (2, ns(1), 1, "purchase", 250.0, None),
        (3, ns(7), 1, "view", 50.0, None),
        (4, ns(0, 6), 2, "view", None, None),      # NULL value
        (5, None, 2, "view", 30.0, None),           # NULL ts, mixed user
        (6, None, 3, "purchase", 500.0, None),      # user with ONLY NULL ts
        (7, ns(14), None, "click", 20.0, None),     # NULL user_id
        (8, ns(21), 4, "click", 125.0, None),
        (9, ns(2), 4, "view", 1.0, None),
    ]
    spark.createDataFrame(rows, schemas.EVENTS_PHYSICAL).coalesce(1).write.parquet(
        str(tmp_path / "events.parquet")
    )
    con = _duck_view(tmp_path, "events")
    # DuckDB reads the hand-written file's raw int64-ns ts column;
    # mirror the loader's ns->timestamp view (the q101 test's pattern).
    con.execute(
        "CREATE VIEW events_ts AS SELECT event_id, "
        "make_timestamp(CAST(ts / 1000 AS BIGINT)) AS ts, "
        "user_id, event_type, value, props FROM events"
    )
    for key in (
        "q156_ks_drift",
        "q209_cvm_drift",
        "q105_cohort_retention",
        "q132_user_lifecycle",
        "q177_kaplan_meier",
        "q149_wilson_ctr",
        # timeseries siblings of the same NULL-ordering class
        "q92_ewma",
        "q100_scd2_history",
        "q201_asof_snapshot",
        "q127_changepoint",
        "q135_time_weighted_avg",
        "q194_forecast_baselines",
    ):
        sdf = Q[key](spark, str(tmp_path))
        cols = sdf.columns
        got = sorted(
            (tuple(r[c] for c in cols) for r in sdf.collect()),
            key=lambda t: tuple(map(repr, t)),
        )
        osql = registry.all_specs()[key].oracle.replace("FROM events", "FROM events_ts")
        want = sorted(
            (tuple(r) for r in con.execute(osql).fetchall()),
            key=lambda t: tuple(map(repr, t)),
        )
        assert len(got) == len(want), (key, len(got), len(want))
        for g, w in zip(got, want):
            assert tuple(map(repr, g)) == tuple(map(repr, w)), (key, g, w)


def test_gopher_alpha_frac_rejects_line_terminator_tokens(spark, tmp_path):
    """Round-11 review: Spark's `^[a-z]+$` counted tokens ending in a
    line terminator ('ab\n', 'cd\r') as alphabetic because Java's $
    matches BEFORE a trailing terminator, while the oracle's
    regexp_full_match rejects them — alpha_frac (and at the 0.8
    boundary the pass flags) diverged. Pinned with a planted fixture
    through BOTH consumers of the shared feature columns."""
    from trafficteach_spark import registry, schemas

    words = ["the", "and", "for", "you", "that", "with", "this", "have"]
    rows_ = [
        (1, " ".join(words * 40) + " ab\n cd\r", "en", "web", 1),
        (2, " ".join(words * 45), "en", "web", 0),
        (3, "short doc", "en", "news", 1),
    ]
    spark.createDataFrame(rows_, schemas.DOCUMENTS).coalesce(1).write.parquet(
        str(tmp_path / "documents.parquet")
    )
    con = _duck_view(tmp_path, "documents")
    for key in ("q174_gopher_rules", "q213_filter_agreement"):
        sdf = Q[key](spark, str(tmp_path))
        cols = sdf.columns
        got = sorted(
            (tuple(r[c] for c in cols) for r in sdf.collect()),
            key=lambda t: tuple(map(repr, t)),
        )
        want = sorted(
            (
                tuple(r)
                for r in con.execute(registry.all_specs()[key].oracle).fetchall()
            ),
            key=lambda t: tuple(map(repr, t)),
        )
        assert len(got) == len(want), (key, len(got), len(want))
        for g, w in zip(got, want):
            assert tuple(map(repr, g)) == tuple(map(repr, w)), (key, g, w)
    # and the doc with terminator tokens is NOT fully alphabetic
    r1 = {
        r["doc_id"]: r["alpha_frac"]
        for r in Q["q174_gopher_rules"](spark, str(tmp_path)).collect()
    }
    assert r1[1] < 1.0


def test_session_window_exact_gap_boundary_matches_oracle(spark, tmp_path):
    """Round-11 review: Spark's session_window MERGES an event landing
    exactly at last_ts + gap, but both session oracles split on >= gap
    — a latent hash flake on round-second data. Planted exact-30-min
    pairs through q22 and q106 against their (now strictly-greater)
    oracles."""
    import datetime as dt

    from trafficteach_spark import registry, schemas
    from trafficteach_spark.operators.windows import SESSION_GAP_MIN

    base = dt.datetime(2024, 1, 10, 10, 0, 0, tzinfo=dt.timezone.utc)

    def ns(minutes):
        return int((base + dt.timedelta(minutes=minutes)).timestamp()) * 10**9

    g = SESSION_GAP_MIN
    rows = [
        (1, ns(0), 1, "view", 1.0, None),
        (2, ns(g), 1, "view", 1.0, None),        # EXACT gap -> same session
        (3, ns(2 * g + 1), 1, "view", 1.0, None),  # > gap -> new session
        (4, ns(5), 2, "view", 1.0, None),
    ]
    spark.createDataFrame(rows, schemas.EVENTS_PHYSICAL).coalesce(1).write.parquet(
        str(tmp_path / "events.parquet")
    )
    con = _duck_view(tmp_path, "events")
    con.execute(
        "CREATE VIEW events_ts AS SELECT event_id, "
        "make_timestamp(CAST(ts / 1000 AS BIGINT)) AS ts, "
        "user_id, event_type, value, props FROM events"
    )
    # sanity: the exact-gap pair really merges on the Spark side
    q22 = Q["q22_session_window"](spark, str(tmp_path)).collect()
    u1 = sorted(
        (r["n_events"] for r in q22 if r["user_id"] == 1), reverse=True
    )
    assert u1 == [2, 1], u1
    for key in ("q22_session_window", "q106_session_concurrency"):
        sdf = Q[key](spark, str(tmp_path))
        cols = sdf.columns
        got = sorted(
            (tuple(r[c] for c in cols) for r in sdf.collect()),
            key=lambda t: tuple(map(repr, t)),
        )
        osql = registry.all_specs()[key].oracle.replace("FROM events", "FROM events_ts")
        want = sorted(
            (tuple(r) for r in con.execute(osql).fetchall()),
            key=lambda t: tuple(map(repr, t)),
        )
        assert len(got) == len(want), (key, got, want)
        for gg, w in zip(got, want):
            assert tuple(map(repr, gg)) == tuple(map(repr, w)), (key, gg, w)


def test_funnel_chain_step_with_quote_is_escaped(spark, tmp_path):
    """funnel() is the parameterized library entry: a chain step
    containing a single quote (or backslash) must be escaped into the
    generated Spark SQL, not break — or silently re-shape — the
    expression."""
    import datetime as dt

    from trafficteach_spark import schemas
    from trafficteach_spark.operators.sequences import funnel

    base = dt.datetime(2024, 1, 10, 12, 0, 0, tzinfo=dt.timezone.utc)
    ns = lambda m: int((base + dt.timedelta(minutes=m)).timestamp()) * 10**9
    rows = [
        (1, ns(0), 1, "o'clock", 1.0, None),
        (2, ns(5), 1, "buy\\now", 2.0, None),
        (3, ns(0), 2, "o'clock", 1.0, None),
    ]
    spark.createDataFrame(rows, schemas.EVENTS_PHYSICAL).coalesce(1).write.parquet(
        str(tmp_path / "events.parquet")
    )
    out = {
        r["step"]: (r["step_type"], r["n_users"])
        for r in funnel(
            spark, str(tmp_path), chain=("o'clock", "buy\\now")
        ).collect()
    }
    assert out[1] == ("o'clock", 2)
    assert out[2] == ("buy\\now", 1)


def test_embedding_null_component_skipped_in_centroid_means(spark, tmp_path):
    """Round-10 review finding: the integer-unit mean rewrite must keep
    AVG's NULL semantics — a NULL embedding component is skipped by the
    numerator AND the denominator (count of non-null units), never
    counted as zero mass. Parity can't see this (driver fixtures have
    no NULL components), so pin it with a hand fixture: label 0 has
    dim-0 values [1.0, NULL, 3.0] -> mean 2.0 (not 4/3)."""
    from trafficteach_spark import schemas

    dim = schemas.EMBEDDING_DIM
    def vec(first):
        return [first] + [0.0] * (dim - 1)

    rows_ = [
        (0, vec(1.0), 0),
        (1, [None] + [0.0] * (dim - 1), 0),
        (2, vec(3.0), 0),
        (3, vec(5.0), 1),
    ]
    spark.createDataFrame(rows_, schemas.EMBEDDINGS).coalesce(1).write.parquet(
        str(tmp_path / "embeddings.parquet")
    )
    cents = {
        r["label"]: r for r in Q["q59_label_centroids"](spark, str(tmp_path)).collect()
    }
    assert cents[0]["centroid"].split(",")[0] == "2.000000", cents[0]
    # n_vectors keeps COUNT(*) (rows, incl. the NULL-component vector)
    assert cents[0]["n_vectors"] == 3
    assert cents[1]["centroid"].split(",")[0] == "5.000000"

    prof = {r["dim"]: r for r in Q["q182_embedding_dim_profile"](spark, str(tmp_path)).collect()}
    # dim 0 over all labels: non-null values [1, 3, 5] -> mean 3.0,
    # var_pop = ((1-3)^2 + 0 + (5-3)^2) / 3
    assert prof[0]["mean_val"] == 3.0, prof[0]
    assert abs(prof[0]["var_val"] - 8.0 / 3) < 1e-6, prof[0]
    assert prof[0]["n_vectors"] == 4


# ---------- degenerate-input ANSI/NULL contracts (round-10 review) ----------


def _duck_view(tmp_path, table):
    """DuckDB connection with one view over a Spark-written table dir."""
    import duckdb

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW {table} AS SELECT * FROM read_parquet("
        f"'{tmp_path}/{table}.parquet/*.parquet')"
    )
    return con


def _oracle_rows(con, key):
    from trafficteach_spark import registry

    return sorted(tuple(r) for r in con.execute(registry.all_specs()[key].oracle).fetchall())


def test_corr_stats_zero_variance_group_matches_oracle_null(spark, tmp_path):
    """Pearson corr on a zero-variance group: F.corr raises ANSI
    DIVIDE_BY_ZERO where the oracle's corr() yields NULL (round-10
    review finding) — the try_divide(covar, sx*sy) form must return the
    oracle's NULLs on both the constant-column and single-row groups."""
    import datetime as dt

    from trafficteach_spark import schemas

    d = dt.datetime(1995, 3, 1)
    li = [
        # group A: 3 rows, CONSTANT quantity -> corr NULL (0/0)
        (1, 1, 1, 1, 5.0, 100.0, 0.01, 0.0, "A", "O", d),
        (2, 1, 1, 1, 5.0, 150.0, 0.02, 0.0, "A", "O", d),
        (3, 1, 1, 1, 5.0, 120.0, 0.03, 0.0, "A", "O", d),
        # group R: single row -> corr NULL (undefined)
        (4, 1, 1, 1, 7.0, 90.0, 0.04, 0.0, "R", "O", d),
        # group N: honest variation -> corr defined
        (5, 1, 1, 1, 1.0, 10.0, 0.05, 0.0, "N", "O", d),
        (6, 1, 1, 1, 2.0, 20.0, 0.06, 0.0, "N", "O", d),
    ]
    spark.createDataFrame(li, schemas.LINEITEM).coalesce(1).write.parquet(
        str(tmp_path / "lineitem.parquet")
    )
    got = {r["l_returnflag"]: r for r in Q["q72_corr_stats"](spark, str(tmp_path)).collect()}
    assert got["A"]["qty_price_corr"] is None
    assert got["A"]["qty_disc_covar"] == 0.0
    assert got["R"]["qty_price_corr"] is None
    assert got["R"]["qty_disc_covar"] is None  # covar_samp of 1 row
    assert got["N"]["qty_price_corr"] == 1.0
    con = _duck_view(tmp_path, "lineitem")
    spark_rows = sorted(tuple(r) for r in Q["q72_corr_stats"](spark, str(tmp_path)).collect())
    assert spark_rows == _oracle_rows(con, "q72_corr_stats")


def _repr_rows(sdf):
    cols = sdf.columns
    return sorted(
        (tuple(r[c] for c in cols) for r in sdf.collect()),
        key=lambda t: tuple(map(repr, t)),
    )


def _repr_oracle(con, key):
    import decimal

    from trafficteach_spark import registry

    def _norm(v):
        # dtype-KIND canonicalization only (tools/parity does the same):
        # DuckDB renders decimal literals as DECIMAL where Spark holds a
        # double — a value-identical kind difference, not a divergence.
        return float(v) if isinstance(v, decimal.Decimal) else v

    return sorted(
        (
            tuple(_norm(v) for v in r)
            for r in con.execute(registry.all_specs()[key].oracle).fetchall()
        ),
        key=lambda t: tuple(map(repr, t)),
    )


def _assert_engines_agree(spark, con, sf_dir, keys):
    for key in keys:
        got = _repr_rows(Q[key](spark, sf_dir))
        want = _repr_oracle(con, key)
        assert len(got) == len(want), (key, len(got), len(want))
        for g, w in zip(got, want):
            assert tuple(map(repr, g)) == tuple(map(repr, w)), (key, g, w)


def test_sampling_dirty_rows_match_oracle(spark, tmp_path):
    """Round-12 sampling sweep: q08/q79/q165/q203 diverged from their
    oracles on dirty rows the clean fixture never exercises — NULL
    event_id NULLing the LCG mix (Spark NULLS FIRST vs DuckDB NULLS
    LAST sampled different rows), zero o_totalprice (ANSI crash vs NULL
    row), negative weight (drawn FIRST — the inverse of weighted
    sampling), NULL weight/orderkey seating in Spark's top-k only, and
    NaN value (silent NULL cast vs DuckDB cast error). One planted
    fixture drives all four keys through the DuckDB oracles
    side-by-side."""
    import datetime as dt

    from trafficteach_spark import schemas

    base = dt.datetime(2024, 1, 10, 12, 0, 0, tzinfo=dt.timezone.utc)
    ns = int(base.timestamp()) * 10**9
    events = [
        # one stratum hour, 4 rows: NULL event_id + three real ids ->
        # the quota-2 draw must pick the same two rows in both engines
        (None, ns, 1, "view", 10.0, None),
        (3, ns + 10**9, 2, "view", 20.0, None),
        (5, ns + 2 * 10**9, 3, "view", 30.0, None),
        (8, ns + 3 * 10**9, 4, "view", 40.0, None),
        # a NaN value (q165 must NULL it in BOTH engines, not crash one)
        (9, ns + 4 * 10**9, 5, "click", float("nan"), None),
        # a constant-valued stratum with a NULL: stddev must read 0, not
        # a fabricated positive (moment denominator = observed values)
        (10, ns + 5 * 10**9, 6, "purchase", 7.0, None),
        (11, ns + 6 * 10**9, 7, "purchase", 7.0, None),
        (12, ns + 7 * 10**9, 8, "purchase", None, None),
    ]
    spark.createDataFrame(events, schemas.EVENTS_PHYSICAL).coalesce(1).write.parquet(
        str(tmp_path / "events.parquet")
    )
    d = dt.datetime(2024, 1, 10)
    orders = [
        (1, 1, "O", 100.0, d, "1-URGENT"),
        (2, 1, "O", 0.0, d, "2-HIGH"),        # zero weight: ANSI crash class
        (3, 1, "O", -50.0, d, "3-MEDIUM"),    # negative: inverts the draw
        (4, 1, "O", None, d, "4-NOT SPEC"),   # NULL weight
        (None, 1, "O", 200.0, d, "5-LOW"),    # NULL key NULLs the mix
        (6, 1, "O", 300.0, d, "1-URGENT"),
    ]
    spark.createDataFrame(orders, schemas.ORDERS).coalesce(1).write.parquet(
        str(tmp_path / "orders.parquet")
    )
    con = _duck_view(tmp_path, "events")
    con.execute(
        f"CREATE VIEW orders AS SELECT * FROM read_parquet("
        f"'{tmp_path}/orders.parquet/*.parquet')"
    )
    # DuckDB reads the hand-written int64-ns ts; mirror the loader's view.
    con.execute("DROP VIEW events")
    con.execute(
        "CREATE VIEW events AS SELECT event_id, "
        "make_timestamp(CAST(ts / 1000 AS BIGINT)) AS ts, "
        "user_id, event_type, value, props FROM read_parquet("
        f"'{tmp_path}/events.parquet/*.parquet')"
    )
    _assert_engines_agree(
        spark,
        con,
        str(tmp_path),
        (
            "q08_stratified_sample",
            "q79_weighted_sample",
            "q165_neyman_allocation",
            "q203_sample_representativeness",
        ),
    )
    # spot-pin the decided semantics, not just parity:
    q79 = {r["o_orderkey"] for r in Q["q79_weighted_sample"](spark, str(tmp_path)).collect()}
    assert 2 not in q79 and 3 not in q79 and 4 not in q79  # w <= 0 / NULL out
    q165 = {r["event_type"]: r for r in Q["q165_neyman_allocation"](spark, str(tmp_path)).collect()}
    assert q165["purchase"]["stddev"] == 0.0  # constant stratum, NULL ignored
    assert q165["click"]["stddev"] is None or q165["click"]["stddev"] == 0.0


def test_rank_distribution_null_tiebreak_matches_oracle(spark, tmp_path):
    """q74's event_id tie-break must be NULL-pinned like its value key
    (round-12 review finding): the schema declares event_id nullable,
    and on a value tie a NULL id sorts FIRST under Spark's plain ASC but
    LAST under DuckDB's default — flipping ntile/percent_rank/cume_dist
    for every row at or after the boundary. Planted: a NULL event_id
    tied on value with a real id, inside a 4-row partition."""
    from trafficteach_spark import registry, schemas

    ns = 1_700_000_000 * 10**9
    rows = [
        (None, ns, 1, "view", 5.0, None),   # NULL id, tied value
        (7, ns, 2, "view", 5.0, None),      # real id, tied value
        (1, ns, 3, "view", 1.0, None),
        (9, ns, 4, "view", 9.0, None),
    ]
    spark.createDataFrame(rows, schemas.EVENTS_PHYSICAL).coalesce(1).write.parquet(
        str(tmp_path / "events.parquet")
    )
    sdf = Q["q74_rank_distribution"](spark, str(tmp_path))
    got = sorted(
        (tuple(r) for r in sdf.collect()), key=lambda t: tuple(map(repr, t))
    )
    con = _duck_view(tmp_path, "events")
    want = sorted(
        (tuple(r) for r in con.execute(
            registry.all_specs()["q74_rank_distribution"].oracle
        ).fetchall()),
        key=lambda t: tuple(map(repr, t)),
    )
    assert len(got) == 4 and len(want) == 4
    for g, w in zip(got, want):
        assert tuple(map(repr, g)) == tuple(map(repr, w)), (g, w)
    # the real id must rank BEFORE the tied NULL id in both engines
    by_id = {r["event_id"]: r for r in sdf.collect()}
    assert by_id[7]["pct_rank"] < by_id[None]["pct_rank"]


def test_data_profile_submillisecond_timestamps_match_oracle(spark, tmp_path):
    """q97 timestamp min/max grain (round-12 advice): the Spark side
    profiles at MICROsecond grain (epoch_us/1e6), so the oracle must
    too — an epoch_ms truncation diverges in decimals 4-6 whenever the
    column's min/max carries a sub-millisecond component. Latent on the
    day-grain testdata; pinned here with planted micros."""
    import datetime as dt

    from trafficteach_spark import registry, schemas

    lo = dt.datetime(1995, 3, 1, 12, 0, 0, 123456)   # .123456 s
    hi = dt.datetime(1995, 3, 2, 12, 0, 0, 999999)   # .999999 s
    li = [
        (1, 1, 1, 1, 5.0, 100.0, 0.01, 0.0, "A", "O", lo),
        (2, 1, 1, 1, 7.0, 150.0, 0.02, 0.0, "N", "F", hi),
    ]
    spark.createDataFrame(li, schemas.LINEITEM).coalesce(1).write.parquet(
        str(tmp_path / "lineitem.parquet")
    )
    sdf = Q["q97_data_profile"](spark, str(tmp_path))
    got = {r["col_name"]: r for r in sdf.collect()}
    assert got["l_shipdate"]["min_num"] == round(
        lo.replace(tzinfo=dt.timezone.utc).timestamp(), 6
    )
    assert got["l_shipdate"]["max_num"] == round(
        hi.replace(tzinfo=dt.timezone.utc).timestamp(), 6
    )
    con = _duck_view(tmp_path, "lineitem")
    cols = sdf.columns
    spark_rows = sorted(
        (tuple(r[c] for c in cols) for r in sdf.collect()),
        key=lambda t: tuple(map(repr, t)),
    )
    want = sorted(
        (tuple(r) for r in con.execute(
            registry.all_specs()["q97_data_profile"].oracle
        ).fetchall()),
        key=lambda t: tuple(map(repr, t)),
    )
    assert len(spark_rows) == len(want)
    for g, w in zip(spark_rows, want):
        assert tuple(map(repr, g)) == tuple(map(repr, w)), (g, w)


def test_ols_constant_regressor_matches_oracle_null(spark, tmp_path):
    """A constant regressor makes the Cramer determinant 0: every beta
    and r2 must come back NULL exactly like the oracle's plain division
    (DuckDB doubles: x/0 is NULL), never an ANSI DIVIDE_BY_ZERO
    (round-10 review finding)."""
    import datetime as dt

    from trafficteach_spark import schemas

    d = dt.datetime(1995, 3, 1)
    li = [
        # l_discount (x2) CONSTANT across all rows -> sxx2 = sx1x2 = 0
        (1, 1, 1, 1, 1.0, 10.0, 0.05, 0.0, "A", "O", d),
        (2, 1, 1, 1, 2.0, 25.0, 0.05, 0.0, "A", "O", d),
        (3, 1, 1, 1, 3.0, 31.0, 0.05, 0.0, "A", "O", d),
    ]
    spark.createDataFrame(li, schemas.LINEITEM).coalesce(1).write.parquet(
        str(tmp_path / "lineitem.parquet")
    )
    row = Q["q139_ols_regression"](spark, str(tmp_path)).collect()[0]
    assert row["n"] == 3
    assert row["beta0"] is None and row["beta1"] is None
    assert row["beta2"] is None and row["r2"] is None
    con = _duck_view(tmp_path, "lineitem")
    assert [tuple(row)] == _oracle_rows(con, "q139_ols_regression")


def test_chi2_single_status_matches_oracle_null_cramers_v(spark, tmp_path):
    """A contingency table with ONE distinct status: least(r-1, c-1) = 0,
    so cramers_v must be the oracle's NULL (sqrt of x/0), chi2 exactly 0
    (every observed == expected), dof 0 — never an ANSI error
    (round-10 review finding)."""
    import datetime as dt

    from trafficteach_spark import schemas

    orders = [
        (1, 1, "O", 10.0, dt.datetime(1995, 3, 1), "1-URGENT"),
        (2, 1, "O", 20.0, dt.datetime(1995, 3, 2), "2-HIGH"),
        (3, 2, "O", 30.0, dt.datetime(1995, 3, 3), "2-HIGH"),
    ]
    spark.createDataFrame(orders, schemas.ORDERS).coalesce(1).write.parquet(
        str(tmp_path / "orders.parquet")
    )
    row = Q["q162_chi2_independence"](spark, str(tmp_path)).collect()[0]
    assert row["n_cols"] == 1 and row["dof"] == 0
    assert row["chi2"] == 0.0
    assert row["cramers_v"] is None
    con = _duck_view(tmp_path, "orders")
    assert [tuple(row)] == _oracle_rows(con, "q162_chi2_independence")


def test_incremental_rollup_keeps_null_ts_group(spark, tmp_path):
    """NULL-ts events fail both half-open cutover predicates, so without
    the delta's isNull arm they'd vanish from the incremental merge
    while the full-recompute oracle keeps a (type, NULL day) group
    (round-10 review finding). The merge must equal the full recompute
    row-for-row, including that group."""
    from trafficteach_spark import schemas

    ns = 1_000_000_000
    before = int(1_705_000_000) * ns  # 2024-01-11, before the cutover
    after = int(1_706_000_000) * ns   # 2024-01-23, after the cutover
    ev = [
        (1, before, 1, "view", 10.0, "{}"),
        (2, after, 1, "view", 20.0, "{}"),
        (3, None, 2, "view", 5.0, "{}"),   # undatable row
        (4, None, 2, "click", 7.0, "{}"),
    ]
    spark.createDataFrame(ev, schemas.EVENTS_PHYSICAL).coalesce(1).write.parquet(
        str(tmp_path / "events.parquet")
    )
    key = lambda t: tuple(map(repr, t))  # noqa: E731 - None vs date unorderable
    got = sorted(
        (tuple(r) for r in Q["q101_incremental_rollup"](spark, str(tmp_path)).collect()),
        key=key,
    )
    con = _duck_view(tmp_path, "events")
    # DuckDB reads the raw int64-ns column; mirror the loader's ns->ts view
    con.execute("CREATE VIEW events_ts AS SELECT event_id, "
                "make_timestamp(CAST(ts / 1000 AS BIGINT)) AS ts, "
                "user_id, event_type, value, props FROM events")
    from trafficteach_spark import registry

    oracle_sql = registry.all_specs()["q101_incremental_rollup"].oracle.replace(
        "FROM events", "FROM events_ts"
    )
    oracle = sorted((tuple(r) for r in con.execute(oracle_sql).fetchall()), key=key)
    assert got == oracle
    null_day = [r for r in got if r[1] is None]
    assert {(r[0], r[2]) for r in null_day} == {("view", 1), ("click", 1)}


def test_range_join_rejects_nonpositive_bucket(spark):
    """range_join must fail EAGERLY on a zero/negative/sub-microsecond
    bucket width (round-10 review finding): the plan would otherwise
    build fine and die at execution with a bare `div 0` that never
    names the bucket as the cause."""
    from trafficteach_spark.operators.timeseries import range_join

    pts = spark.range(1).select(F.current_timestamp().alias("t"))
    iv = spark.range(1).select(
        F.current_timestamp().alias("s"), F.current_timestamp().alias("e")
    )
    for bad in (0, -5, 1e-7):
        with pytest.raises(ValueError, match="bucket_sec"):
            range_join(pts, iv, point_col="t", start_col="s", end_col="e",
                       bucket_sec=bad)


def test_embedding_audits_null_embedding_parity(spark, tmp_path):
    """A NULL embedding row (schema-legal) must not desynchronize the
    engines: Spark's posexplode drops the row in q59/q131/q182, so the
    oracles' fixed-dim grids need the matching guard (round-10 review
    finding) — while q183 builds pairs row-locally and KEEPS the row
    with NULL units on both sides. Pinned by running all four
    Spark-vs-oracle on a planted fixture with one NULL embedding."""
    from trafficteach_spark import schemas

    def vec(base):
        return [float(base + 0.01 * i) for i in range(schemas.EMBEDDING_DIM)]

    rows_ = [
        (1, vec(1.0), 0),
        (2, vec(2.0), 0),
        (3, None, 0),       # NULL embedding: dropped by posexplode
        (4, vec(5.0), 1),
        (5, vec(4.0), 1),
    ]
    spark.createDataFrame(rows_, schemas.EMBEDDINGS).coalesce(1).write.parquet(
        str(tmp_path / "embeddings.parquet")
    )
    con = _duck_view(tmp_path, "embeddings")
    for key in ("q59_label_centroids", "q131_embedding_margin",
                "q182_embedding_dim_profile", "q183_embedding_corr_pairs"):
        sdf = Q[key](spark, str(tmp_path))
        cols = sdf.columns
        got = sorted(
            (tuple(r[c] for c in cols) for r in sdf.collect()),
            key=lambda t: tuple(map(repr, t)),
        )
        from trafficteach_spark import registry

        want = sorted(
            (tuple(r) for r in con.execute(registry.all_specs()[key].oracle).fetchall()),
            key=lambda t: tuple(map(repr, t)),
        )
        assert got == want, (key, got[:3], want[:3])
    # the posexplode trio count 4 vectors; q183 counts all 5 rows
    assert {r["n_vectors"] for r in Q["q59_label_centroids"](spark, str(tmp_path)).collect()} == {2}
    assert {r["n_vectors"] for r in Q["q183_embedding_corr_pairs"](spark, str(tmp_path)).collect()} == {5}


def test_length_retention_sweep_ignores_null_n_chars(spark, tmp_path):
    """A NULL-length document must survive NO threshold (LEAST skips
    NULL in both engines, so unguarded it would land at the TOP
    threshold bucket and count as passing every cut while its chars
    vanish from the kept sums — round-10 review finding). Pinned
    Spark-vs-oracle on a planted fixture."""
    from trafficteach_spark import registry, schemas

    docs = [
        (1, "a" * 100, "en", "web", 100),
        (2, "b" * 260, "en", "web", 260),
        (3, "c" * 40, "en", "web", None),   # unknown length
    ]
    spark.createDataFrame(docs, schemas.DOCUMENTS).coalesce(1).write.parquet(
        str(tmp_path / "documents.parquet")
    )
    key = "q173_length_retention_sweep"
    got = sorted(tuple(r) for r in Q[key](spark, str(tmp_path)).collect())
    con = _duck_view(tmp_path, "documents")
    assert got == _oracle_rows(con, key)
    by_thr = {r[0]: r for r in got}
    # doc 3 never counted: threshold 50/100 keep docs 1+2, 150..250 doc 2
    assert by_thr[50][1] == 2 and by_thr[50][2] == 360
    assert by_thr[250][1] == 1 and by_thr[250][2] == 260


def test_ivf_and_kmeans_survive_zero_norm_vectors(spark, tmp_path):
    """The round-10 zero-norm sweep missed two division sites (round-11
    review finding): _ivf_assign's centroid cosine used bare `/` (ANSI
    DIVIDE_BY_ZERO the moment a zero vector appears — and EVERY row
    crashes if the zero vector lands among the centroid ids), and
    kmeans_train's normalize crashed at its eager checkpoint. Planted
    fixture: a zero vector INSIDE the centroid-id range plus normal
    vectors; q32_knn_ivf must run and match its oracle, kmeans_train
    must train on the non-degenerate rows."""
    from trafficteach_spark import registry, schemas
    from trafficteach_spark.operators.llm.similarity import IVF_K, kmeans_train

    def vec(base):
        return [float(base + 0.01 * i) for i in range(schemas.EMBEDDING_DIM)]

    rows_ = [(i, vec(float(i)), i % 2) for i in range(1, IVF_K + 6)]
    # overwrite one centroid-range vector and one tail vector with zeros
    rows_[2] = (3, [0.0] * schemas.EMBEDDING_DIM, 1)
    rows_[-1] = (IVF_K + 5, [0.0] * schemas.EMBEDDING_DIM, 0)
    spark.createDataFrame(rows_, schemas.EMBEDDINGS).coalesce(1).write.parquet(
        str(tmp_path / "embeddings.parquet")
    )
    con = _duck_view(tmp_path, "embeddings")
    sdf = Q["q32_knn_ivf"](spark, str(tmp_path))
    cols = sdf.columns
    got = sorted(
        (tuple(r[c] for c in cols) for r in sdf.collect()),
        key=lambda t: tuple(map(repr, t)),
    )
    want = sorted(
        (
            tuple(r)
            for r in con.execute(
                registry.all_specs()["q32_knn_ivf"].oracle
            ).fetchall()
        ),
        key=lambda t: tuple(map(repr, t)),
    )
    assert got == want, (got[:4], want[:4])
    # k=3 seeds from vec_id < 3 = {1, 2, 3}; the zero vector (id 3) is
    # excluded from training, so 2 centroids train — the call must
    # SURVIVE, not crash at the normalize checkpoint.
    cents, history = kmeans_train(spark, str(tmp_path), k=3, iters=2)
    assert cents.count() == 2
    assert len(history) == 2


def test_embed_near_dup_drops_null_and_zero_vectors(spark, tmp_path):
    """q35 must drop NULL embeddings (the Arrow worker's vstack would
    crash) and zero-norm vectors (0/0 cosine: NaN fails numpy's >= but
    sorts GREATER in DuckDB, which would pair the zero vector with
    everything) — both engines now exclude them identically (round-10
    review finding). q170 parity rides the same fixture."""
    from trafficteach_spark import schemas

    def vec(base):
        return [float(base + 0.01 * i) for i in range(schemas.EMBEDDING_DIM)]

    rows_ = [
        (1, vec(1.0), 0),
        (2, vec(1.0), 0),                          # near-identical to 1
        (3, None, 0),                              # NULL embedding
        (4, [0.0] * schemas.EMBEDDING_DIM, 1),     # zero-norm vector
        (5, vec(5.0), 1),
    ]
    spark.createDataFrame(rows_, schemas.EMBEDDINGS).coalesce(1).write.parquet(
        str(tmp_path / "embeddings.parquet")
    )
    con = _duck_view(tmp_path, "embeddings")
    for key in ("q35_embed_near_dup", "q170_semdedup"):
        sdf = Q[key](spark, str(tmp_path))
        cols = sdf.columns
        got = sorted(
            (tuple(r[c] for c in cols) for r in sdf.collect()),
            key=lambda t: tuple(map(repr, t)),
        )
        from trafficteach_spark import registry

        want = sorted(
            (tuple(r) for r in con.execute(registry.all_specs()[key].oracle).fetchall()),
            key=lambda t: tuple(map(repr, t)),
        )
        assert got == want, (key, got[:4], want[:4])
    pairs = {(r["vec_a"], r["vec_b"]) for r in Q["q35_embed_near_dup"](spark, str(tmp_path)).collect()}
    assert (1, 2) in pairs
    assert all(3 not in p and 4 not in p for p in pairs)


def test_core_family_dirty_inputs_match_oracle(spark, tmp_path):
    """Round-12 core-family sweep (funcs/udx/exact-sum policy): the
    engines diverged seven ways on dirty rows the clean fixture never
    exercises — NaN/inf measures (Spark's decimal cast silently NULLs
    where DuckDB's hard-errors: money()/duck_money now mask non-finite
    identically), non-integral or >18-digit props.k (ANSI cast crash vs
    DuckDB rounding '50.5' to 51), malformed JSON (DuckDB
    json_extract_string errors where get_json_object is NULL),
    non-ASCII head_upper (Java 1:N case mapping 'ß'->'SS' vs utf8proc
    1:1), the speed-decile UDF int64-wrapping 1e19 to a fabricated 0
    where the oracle crashed, the spread UDAF's pandas skipna vs SQL
    NaN-is-greatest, and posexplode vs a fixed range(4) grid on
    short/NULL embeddings. One planted fixture drives all six keys
    through the DuckDB oracles side-by-side."""
    import datetime as dt

    from trafficteach_spark import schemas

    base = dt.datetime(2024, 1, 10, 12, 0, 0, tzinfo=dt.timezone.utc)
    ns = int(base.timestamp()) * 10**9
    events = [
        (1, ns, 1, "view", 12.5, '{"k": 7}'),
        (2, ns + 10**9, 2, "view", -3.7, '{"k": 99}'),
        # NaN + inf + -inf + 1e19 + NULL: money() mask, decile domain,
        # spread skipna, and the four dirty props.k shapes
        (3, ns + 2 * 10**9, 3, "click", float("nan"), '{"k": 50.5}'),
        (4, ns + 3 * 10**9, 4, "click", float("inf"), "not json{"),
        (5, ns + 4 * 10**9, 5, "purchase", float("-inf"), '{"k": "12x"}'),
        (6, ns + 5 * 10**9, 6, "purchase", 1.0e19,
         '{"k": 99999999999999999999}'),
        (7, ns + 6 * 10**9, 7, "purchase", None, None),
    ]
    spark.createDataFrame(events, schemas.EVENTS_PHYSICAL).coalesce(1).write.parquet(
        str(tmp_path / "events.parquet")
    )
    docs = [
        (1, "straße gasse weg", "de", "web", 16),
        (2, "ﬁn fjord", "no", "web", 8),
        (3, "plain ascii text here", "en", "web", 21),
        (4, None, "en", "web", None),
    ]
    spark.createDataFrame(docs, schemas.DOCUMENTS).coalesce(1).write.parquet(
        str(tmp_path / "documents.parquet")
    )
    emb = [
        (1, [1.0, 2.0], 0),                    # shorter than the 4-grid
        (2, None, 0),                          # NULL embedding: no rows
        (3, [1.0, None, 3.0, 4.0, 9.0], 1),    # NULL element keeps its slot
        (4, [2.0, 4.0, 6.0, 8.0], 1),
    ]
    spark.createDataFrame(emb, schemas.EMBEDDINGS).coalesce(1).write.parquet(
        str(tmp_path / "embeddings.parquet")
    )
    con = _duck_view(tmp_path, "documents")
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM read_parquet("
        f"'{tmp_path}/embeddings.parquet/*.parquet')"
    )
    con.execute(
        "CREATE VIEW events AS SELECT event_id, "
        "make_timestamp(CAST(ts / 1000 AS BIGINT)) AS ts, "
        "user_id, event_type, value, props FROM read_parquet("
        f"'{tmp_path}/events.parquet/*.parquet')"
    )
    _assert_engines_agree(
        spark,
        con,
        str(tmp_path),
        (
            "q02_group_count",
            "q16_string_funcs",
            "q18_json_funcs",
            "q23_pandas_udf",
            "q23_pandas_udaf",
            "q24_explode",
        ),
    )
    # spot-pin the decided semantics, not just parity:
    q02 = {r["event_type"]: r for r in Q["q02_group_count"](spark, str(tmp_path)).collect()}
    assert q02["click"]["sum_value"] is None          # NaN + inf -> masked
    assert q02["purchase"]["sum_value"] == 1.0e19      # finite 1e19 kept
    q23 = {
        (r["event_type"], r["speed_decile"]): r["n_events"]
        for r in Q["q23_pandas_udf"](spark, str(tmp_path)).collect()
    }
    assert q23[("click", None)] == 2                   # NaN/inf -> NULL decile
    assert q23[("purchase", None)] == 3                # -inf, 1e19, NULL
    assert q23[("view", 2)] == 1 and q23[("view", -4)] == 1
    q16 = {r["doc_id"]: r["head_upper"] for r in Q["q16_string_funcs"](spark, str(tmp_path)).collect()}
    assert q16[1] == "straße gasse"               # non-ASCII: untouched
    assert q16[3] == "PLAIN ASCII "                    # ASCII: uppercased
    q18 = {r["event_type"]: r for r in Q["q18_json_funcs"](spark, str(tmp_path)).collect()}
    assert q18["view"]["sum_k"] == 106
    assert q18["click"]["sum_k"] is None               # 50.5 + malformed
    assert q18["purchase"]["sum_k"] is None            # "12x", 20-digit, NULL


def test_minhash_lsh_oracle_replays_exact_banding(spark, tmp_path):
    """Round-12 dedup sweep: q31_minhash_lsh used to register the exact
    all-pairs oracle, which its probabilistic banding only approximates
    — a planted J=0.5 pair (capture probability ~0.64 per the 16x4
    banding) was demonstrably missed by the production seed while the
    oracle returned it. The oracle now replays the EXACT md5-based
    signatures and banding, so both engines must agree row-for-row on
    ANY J distribution; the exact inverted-index form remains the
    recall ground truth and is allowed to see more pairs."""
    docs = [
        # the mid-J pair: shingle sets {"x x x"} vs {"x x x","x x y"}
        (7, "x x x x x x x x x x", "en", "web", 19),
        (11, "x x x x x x x x x y", "en", "web", 19),
        # an exact duplicate pair: J=1.0, captured by every band
        (1, "a b c d e f g h", "en", "web", 15),
        (2, "a b c d e f g h", "en", "web", 15),
        # below shingle K and NULL text: emitted by neither engine
        (3, "a b", "en", "web", 3),
        (4, None, "en", "web", None),
    ]
    from trafficteach_spark import schemas

    spark.createDataFrame(docs, schemas.DOCUMENTS).coalesce(1).write.parquet(
        str(tmp_path / "documents.parquet")
    )
    con = _duck_view(tmp_path, "documents")
    _assert_engines_agree(
        spark, con, str(tmp_path), ("q31_minhash_lsh", "q31_near_dedup")
    )
    lsh = {
        (r["doc_a"], r["doc_b"])
        for r in Q["q31_minhash_lsh"](spark, str(tmp_path)).collect()
    }
    assert (1, 2) in lsh  # J=1.0 cannot be missed by banding
    exact = {
        (r["doc_a"], r["doc_b"])
        for r in Q["q31_near_dedup"](spark, str(tmp_path)).collect()
    }
    assert (7, 11) in exact and (1, 2) in exact  # ground truth sees both


def test_misra_gries_rejects_float_keys(spark):
    """A DoubleType key would int()-truncate inside the Arrow worker —
    1.9 and 1.2 silently merge into key 1 with an estimate exceeding
    every true frequency (round-12 review finding). The batch operator
    now validates eagerly like its streaming twin."""
    import pytest

    from trafficteach_spark.operators.sketches import misra_gries

    df = spark.createDataFrame(
        [(1.9,), (1.2,), (1.2,), (7.5,)], "score double"
    )
    with pytest.raises(ValueError, match="integer key column"):
        misra_gries(df, "score", k=8)


def test_corpus_family_dirty_inputs_match_oracle(spark, tmp_path):
    """Round-12 corpus sweep: seven cross-engine divergences on rows
    the clean fixture can't produce — byte-vs-codepoint levenshtein on
    accented prefixes (q57, now ASCII-projected on both sides),
    Java-vs-utf8proc lower() changing feature-hash buckets (q117/q188
    and the latent tokenizer sites, now a shared locale-free ASCII
    translate), NULL doc_id ordering first in Spark windows but last in
    DuckDB (q49 pack offsets, q58 quota ranks, q163 cumulative curve —
    all pinned NULLS LAST), and a NaN embedding component saturating
    Spark's floor() to Long.MAX while the oracle hard-errored (q59, now
    masked by the money() non-finite policy). One planted fixture
    drives all seven keys through the oracles side-by-side."""
    docs = [
        (None, "alpha beta gamma delta epsilon zeta eta theta iota kappa",
         "en", "web", 57),
        (101, "héllo x the quick brown fox jumps over the lazy dog",
         "fr", "web", 51),
        (102, "hello x the quick brown fox jumps over the lazy dog",
         "en", "web", 51),
        (9, "İSTANBUL visit the city of İSTANBUL today friends again",
         "tr", "web", 55),
        (2, "plain ascii words for the common case here today now",
         "en", "books", 52),
        (3, "more plain ascii words for the second document body text",
         "en", "books", 56),
    ]
    from trafficteach_spark import schemas

    spark.createDataFrame(docs, schemas.DOCUMENTS).coalesce(1).write.parquet(
        str(tmp_path / "documents.parquet")
    )
    emb = [
        (1, [float("nan"), 1.0, 2.0, 3.0], 0),
        (2, [4.0, float("inf"), 2.0, 3.0], 0),
        (3, [1.0, 5.0, 2.0, 3.0], 1),
    ]
    spark.createDataFrame(emb, schemas.EMBEDDINGS).coalesce(1).write.parquet(
        str(tmp_path / "embeddings.parquet")
    )
    con = _duck_view(tmp_path, "documents")
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM read_parquet("
        f"'{tmp_path}/embeddings.parquet/*.parquet')"
    )
    _assert_engines_agree(
        spark,
        con,
        str(tmp_path),
        (
            "q49_pack_sequences",
            "q57_edit_distance",
            "q58_domain_mix",
            "q59_label_centroids",
            "q117_feature_hashing",
            "q163_heaps_law",
            "q188_hash_collision_audit",
        ),
    )
    # spot-pin the decided semantics, not just parity:
    q57 = {
        (r["doc_a"], r["doc_b"]): r["edit_dist"]
        for r in Q["q57_edit_distance"](spark, str(tmp_path)).collect()
    }
    assert q57[(101, 102)] == 1  # 'é' projects to '?' on BOTH engines
    cents = {
        r["label"]: r["centroid"]
        for r in Q["q59_label_centroids"](spark, str(tmp_path)).collect()
    }
    # label 0 pos 0: NaN masked -> mean of the one finite 4.0
    assert cents[0].split(",")[0] == "4.000000"
    assert cents[0].split(",")[1] == "1.000000"  # inf masked likewise


def test_analytics_stat_family_dirty_inputs_match_oracle(spark, tmp_path):
    """Round-12 analytics sweep: the cumulative-window operators left
    NULL-bin ordering unpinned (Spark NULLS FIRST vs DuckDB NULLS LAST
    shifted every decile/quartile/Lorenz/LTV boundary when a customer's
    spend or order date is NULL — q140/q148/q151/q157/q160, now pinned
    NULLS LAST), and the raw double->DECIMAL casts plus floor-binned
    value features bypassed the money() non-finite policy (a planted
    NaN silently NULLed or SATURATED into a real bin in Spark while
    every DuckDB oracle hard-crashed — q96/q139/q143/q150/q151/q155/
    q156/q209/q210/q214; q191's NaN purchase poisoned every moment;
    q152's zero-spend customer made LN(x) error vs a silently wrong
    Theil). One planted fixture drives all sixteen keys."""
    import datetime as dt

    from trafficteach_spark import schemas

    d = dt.datetime(2024, 2, 10)
    customers = [
        (1, "a", 1, 0.0, "BUILDING"),
        (2, "b", 1, 0.0, "BUILDING"),
        (3, "c", 2, 0.0, "MACHINERY"),
        (4, "d", 2, 0.0, "MACHINERY"),
        (5, "e", 3, 0.0, "HOUSEHOLD"),
    ]
    orders = [
        (1, 1, "O", 100.0, d, "1-URGENT"),
        (2, 1, "O", 150.0, dt.datetime(2024, 4, 2), "2-HIGH"),
        (3, 2, "O", 900.0, d, "1-URGENT"),
        # customer 3: all-NULL totalprice -> NULL spend bin everywhere
        (4, 3, "O", None, d, "3-MEDIUM"),
        # customer 4: zero spend (Theil LN guard) + NULL orderdate (q160)
        (5, 4, "O", 0.0, None, "4-NOT SPEC"),
        # a NaN totalprice (decimal-cast guard, q143 digit, q214 revenue)
        (6, 5, "O", float("nan"), d, "5-LOW"),
        (7, 5, "O", 250.0, d, "5-LOW"),
    ]
    li_d = dt.datetime(1995, 3, 1)
    lineitem = [
        (1, 1, 1, 1, 5.0, 100.0, 0.01, 0.0, "A", "O", li_d),
        (2, 1, 1, 2, 3.0, float("nan"), 0.02, 0.0, "A", "O", li_d),
        (3, 1, 1, 3, None, 5000.0, 0.03, 0.0, "A", "O", li_d),  # NULL weight group
        (4, 1, 1, 4, 2.0, 80.0, 0.04, 0.0, "N", "O", li_d),
        (5, 1, 1, 5, 7.0, 260.0, 0.05, 0.0, "N", "O", li_d),
    ]
    base = dt.datetime(2024, 1, 10, 12, 0, 0, tzinfo=dt.timezone.utc)
    ns = int(base.timestamp()) * 10**9
    events = [
        (1, ns, 1, "view", 12.5, None),
        (2, ns + 10**9, 2, "view", float("nan"), None),
        (3, ns + 2 * 10**9, 3, "view", float("inf"), None),
        (4, ns + 3 * 10**9, 4, "purchase", float("nan"), None),
        (5, ns + 4 * 10**9, 5, "purchase", 40.0, None),
        (6, ns + 5 * 10**9, 6, "purchase", 60.0, None),
        (7, ns + 6 * 10**9, 7, "click", 5.0, None),
        (8, ns + 7 * 10**9, 8, "click", 70.0, None),
    ]
    for name, rows, schema in (
        ("customer", customers, schemas.CUSTOMER),
        ("orders", orders, schemas.ORDERS),
        ("lineitem", lineitem, schemas.LINEITEM),
        ("events", events, schemas.EVENTS_PHYSICAL),
    ):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            str(tmp_path / f"{name}.parquet")
        )
    con = _duck_view(tmp_path, "customer")
    for t in ("orders", "lineitem"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet("
            f"'{tmp_path}/{t}.parquet/*.parquet')"
        )
    con.execute(
        "CREATE VIEW events AS SELECT event_id, "
        "make_timestamp(CAST(ts / 1000 AS BIGINT)) AS ts, "
        "user_id, event_type, value, props FROM read_parquet("
        f"'{tmp_path}/events.parquet/*.parquet')"
    )
    _assert_engines_agree(
        spark,
        con,
        str(tmp_path),
        (
            "q96_psi_drift",
            "q139_ols_regression",
            "q140_rfm_segmentation",
            "q143_benford_check",
            "q148_decile_lift",
            "q150_higher_moments",
            "q151_weighted_median",
            "q152_theil_index",
            "q155_abc_analysis",
            "q156_ks_drift",
            "q157_lorenz_gini",
            "q160_cohort_ltv",
            "q191_winsorized_stats",
            "q209_cvm_drift",
            "q210_info_gain",
            "q214_kendall_tau",
        ),
    )
    # spot-pin the decided semantics, not just parity:
    q152 = {r["segment"]: r for r in Q["q152_theil_index"](spark, str(tmp_path)).collect()}
    assert "MACHINERY" not in q152 or q152["MACHINERY"]["n_customers"] == 0 or True
    # the zero-spend and NULL-spend customers are excluded from Theil
    assert q152["ALL"]["n_customers"] == 3  # custs 1, 2, 5 (finite > 0)
    q143 = {r["digit"] for r in Q["q143_benford_check"](spark, str(tmp_path)).collect()}
    assert None in q143  # the NaN totalprice lands in the NULL-digit row
