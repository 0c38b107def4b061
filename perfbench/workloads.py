"""The benchmark's workloads: seeded inputs, the check pass that compares
results with the DuckDB oracles, and the units (one job each) the closed
loop issues back to back."""

from __future__ import annotations

import os
import shutil
import time
from collections.abc import Callable
from dataclasses import dataclass

import gen
from probes import dir_bytes

# The reference's traffic-job family: relational, window, sequence,
# sampling and time-series operators over the events/TPC-H tables. Left
# out to keep a run inside the time budget: the variants q06_topn_details
# and q10_distinct_users_approx, and the set operations q14/q15.
TRAFFIC_KEYS = (
    "q01_filter_range", "q02_group_count", "q03_star_join", "q04_monitor_state",
    "q05_missing_cameras", "q06_topn", "q07_speed_buckets",
    "q08_stratified_sample", "q09_group_concat", "q10_distinct_users",
    "q11_topk_per_group", "q12_trajectory", "q13_follow_within", "q19_funnel",
    "q20_sliding_window", "q21_tumbling_window", "q22_session_window",
    "q51_asof_join", "q63_range_join", "q85_window_dedup", "q106_session_concurrency",
)
# LLM-pipeline keys: dedup chain, similarity, text, Python UDF/UDTF, corpus.
# Left out to keep a run inside the time budget: the variants q31_simhash
# (its md5 twin carries the oracle), q32_knn_lsh and q23_pandas_udaf.
CORPUS_KEYS = (
    "q30_exact_dedup", "q31_near_dedup", "q31_minhash_lsh", "q31_simhash_md5",
    "q46_dedup_clusters", "q32_knn_cosine", "q32_knn_ivf", "q35_embed_near_dup",
    "q170_semdedup", "q36_langid", "q39_quality_score", "q47_pii_redact",
    "q48_tfidf", "q23_pandas_udf", "q119_python_udtf", "q91_corpus_pipeline",
    "q169_dsir_weights",
)
ROLLUP_ORACLE_KEY = "q101_incremental_rollup"

# Input sizes: (full run, --tiny self-test). Scale 1.0 is the sf0.01
# fixture; tiny is sf0.001.
TRAFFIC_SCALE = (1.0, 0.1)
CORPUS_DOCS = (500, 100)
# Shard 0 is the check pass's; each timed pass takes the next one, so
# the loop ends early if a run outgrows them.
CORPUS_SHARDS = (16, 4)
# The check shard is smaller: the dedup-chain oracles are quadratic in
# DuckDB (q46 alone takes 17 s at 500 docs), and warming needs the plans,
# not the volume.
CORPUS_CHECK_DOCS = 100
BACKLOG = ((8, 1_250), (8, 125))  # (files, events per file)


@dataclass
class Unit:
    """One job of the closed loop: ``build`` is the program call that
    builds the work, ``execute`` runs it to completion. ``kind`` is
    ``"job"`` for a registered query, ``"drain"`` for a streaming drain."""

    key: str
    kind: str
    build: Callable[[], object]
    execute: Callable[[object], None]
    after: Callable[[object], None] | None = None


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _cached(dir_: str, make: Callable[[str], None]) -> str:
    """Build ``dir_`` once: generate into a temp sibling, then rename."""
    if not os.path.isdir(dir_):
        tmp = f"{dir_}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        make(tmp)
        os.replace(tmp, dir_)
    return dir_


class Stream:
    """Drains a ts-ordered event backlog through the windowed parquet sink
    and the incremental rollup, each drain from a fresh checkpoint."""

    keys = ("windowed_sink", "incremental_rollup")

    def __init__(self, cache: str, work: str, seed: int, tiny: bool) -> None:
        files, per_file = BACKLOG[int(tiny)]
        self.events = files * per_file
        # The landing directory is named like a table so the batch loader
        # can scan it too (``load_table(spark, self.tables, "events")``).
        self.tables = _cached(
            os.path.join(cache, f"v{gen.VERSION}-backlog-s{seed}-{files}x{per_file}"),
            lambda d: gen.write_backlog(os.path.join(d, "events.parquet"), seed, files, per_file),
        )
        self.landing = os.path.join(self.tables, "events.parquet")
        self.work = work
        self.progress: list[tuple[str, dict]] = []
        self.sink_bytes = 0
        self._n = 0

    def _unit(self, spark, key: str, start, keep: bool) -> Unit:
        self._n += 1
        base = os.path.join(self.work, "stream", str(self._n))
        out, ckpt = os.path.join(base, "out"), os.path.join(base, "ckpt")

        def after(query) -> None:
            import json

            self.progress.extend((key, json.loads(p.json)) for p in query.recentProgress)
            self.sink_bytes += dir_bytes(out)
            if not keep:
                shutil.rmtree(base, ignore_errors=True)

        return Unit(key, "drain", lambda: start(spark, self.landing, out, ckpt), lambda q: q.awaitTermination(), after)

    def units(self, spark, pass_no: int) -> list[Unit]:
        from trafficteach_spark.streaming.rollup import start_incremental_rollup
        from trafficteach_spark.streaming.sink import start_windowed_parquet_sink

        return [
            self._unit(spark, "windowed_sink", start_windowed_parquet_sink, keep=False),
            self._unit(spark, "incremental_rollup", start_incremental_rollup, keep=pass_no == -1),
        ]

    def check(self, spark, specs, planted: bool) -> tuple[str, bool, str]:
        """The check pass's rollup, finalized, against the q101 oracle
        over the landed events. Call right after that pass, whose rollup
        drain is the last one started and the only one kept."""
        import duckdb
        from tools.parity import _hash_rows

        from trafficteach_spark.streaming.rollup import finalize_rollup, read_rollup_state

        base = os.path.join(self.work, "stream", str(self._n))
        state = finalize_rollup(read_rollup_state(spark, os.path.join(base, "out")))
        got = [tuple(r) for r in state.collect()]
        shutil.rmtree(base, ignore_errors=True)
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW events AS SELECT event_id, make_timestamp(epoch_ns(ts) // 1000) AS ts, "
            f"user_id, event_type, value, props FROM read_parquet('{self.landing}/*.parquet')"
        )
        cur = con.execute(specs[ROLLUP_ORACLE_KEY].oracle)
        cols = [d[0] for d in cur.description]
        want = [tuple(r) for r in cur.fetchall()]
        con.close()
        if planted:
            want = want[1:]
        ok = len(got) == len(want) and _hash_rows(state.columns, got) == _hash_rows(cols, want)
        return ROLLUP_ORACLE_KEY, ok, f"{len(got)} rows vs oracle {len(want)}"


class Workload:
    """``traffic_stream``: the traffic keys over one seeded dataset plus
    both streaming drains of a seeded backlog in every pass.
    ``corpus_llm``: the LLM keys over a fresh seeded corpus shard per
    pass."""

    def __init__(self, name: str, cache: str, work: str, seed: int, tiny: bool) -> None:
        self.keys = TRAFFIC_KEYS if name == "traffic_stream" else CORPUS_KEYS
        i = int(tiny)
        self.base = _cached(
            os.path.join(cache, f"v{gen.VERSION}-base-s{seed}-x{TRAFFIC_SCALE[i]}-d{CORPUS_DOCS[i]}"),
            lambda d: gen.write_dataset(d, seed, TRAFFIC_SCALE[i], CORPUS_DOCS[i]),
        )
        self.shards: list[str] = []
        self.stream: Stream | None = None
        if name == "corpus_llm":
            # Input records one pass reads: every key scans the shard once.
            self.pass_events = CORPUS_DOCS[i] * len(self.keys)
            for n in range(CORPUS_SHARDS[i]):
                docs = min(CORPUS_CHECK_DOCS, CORPUS_DOCS[i]) if n == 0 else CORPUS_DOCS[i]
                self.shards.append(
                    _cached(
                        f"{self.base}-shard{n}-d{docs}",
                        lambda d, n=n, docs=docs: gen.write_corpus_shard(d, self.base, seed, n + 1, docs),
                    )
                )
        else:
            self.stream = Stream(cache, work, seed, tiny)

    @property
    def max_passes(self) -> int:
        return len(self.shards) - 1 if self.shards else 1 << 30

    def dataset(self, pass_no: int) -> str:
        """Pass -1 is the check pass; the timed passes are 0, 1, ..."""
        return self.shards[pass_no + 1] if self.shards else self.base

    def units(self, spark, specs, pass_no: int) -> list[Unit]:
        d = self.dataset(pass_no)
        drains = self.stream.units(spark, pass_no) if self.stream else []
        return drains + [Unit(k, "job", (lambda k=k: specs[k].fn(spark, d)), _force) for k in self.keys]

    def check(self, spark, specs, planted: bool, run_drain, span) -> tuple[list[tuple[str, bool, str]], float]:
        """The check pass: every key once through ``tools.parity.check``
        against its DuckDB oracle, every drain once, then the rollup
        against its oracle. ``planted`` drops one row of the first checked
        key's expected result. Returns (key, ok, detail) per check and the
        seconds spent in DuckDB."""
        from tools import parity

        from trafficteach_spark.session import cache_scope

        d = self.dataset(-1)
        con = _OracleCon(parity.duckdb_conn(d), specs[self.keys[0]].oracle if planted else None)
        results = []
        for unit in self.units(spark, specs, -1):
            if unit.kind == "drain":
                with span("check", key=unit.key):
                    run_drain(unit)
                continue
            with span("check", key=unit.key):
                try:
                    with cache_scope(spark):
                        r = parity.check(spark, con, unit.key, d)
                    ok, detail = r.ok, r.detail
                except Exception as exc:  # noqa: BLE001 - counted as a failed check
                    ok, detail = False, f"exception {type(exc).__name__}: {exc}"
            results.append((unit.key, ok, detail))
        oracle_s = con.seconds
        if self.stream:
            t = time.perf_counter()
            results.append(self.stream.check(spark, specs, planted))
            oracle_s += time.perf_counter() - t
        return results, oracle_s


class _OracleCon:
    """DuckDB connection for ``parity.check``: runs each oracle once into
    a temp table (the check reads it twice), sums the time spent in DuckDB
    (kept out of set-up time) and can drop one row of one expected
    result."""

    def __init__(self, con, planted_sql: str | None) -> None:
        self._con, self._planted, self.seconds = con, planted_sql, 0.0
        self._tables: dict[str, str] = {}

    def execute(self, sql: str):
        t = time.perf_counter()
        if sql not in self._tables:
            self._tables[sql] = f"oracle_{len(self._tables)}"
            self._con.execute(f"CREATE TEMP TABLE {self._tables[sql]} AS {sql}")
        read = f"SELECT * FROM {self._tables[sql]}"
        cur = self._con.execute(read + (" OFFSET 1" if sql == self._planted else ""))
        self.seconds += time.perf_counter() - t
        return _TimedCursor(cur, self)


class _TimedCursor:
    def __init__(self, cur, owner: _OracleCon) -> None:
        self._cur, self._owner = cur, owner
        self.description = cur.description

    def _timed(self, fn):
        t = time.perf_counter()
        out = fn()
        self._owner.seconds += time.perf_counter() - t
        return out

    def fetchall(self):
        return self._timed(self._cur.fetchall)

    def df(self):
        return self._timed(self._cur.df)
