"""The benchmark workloads: each a closed loop with one client.

A workload object owns its generated inputs and exposes
``setup() -> {step: seconds}``, ``before_pass()`` (untimed per-pass
preparation), ``run_pass() -> PassResult`` and ``quality()`` (the
workload's own end-to-end figures). Every operation it runs is counted
in ``attempted``; an operation that raises or whose output fails its
check is counted in ``failed`` and logged to stderr, and the run goes on.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

from perfbench import gen
from perfbench.trace import active

#: Setup steps that are cheap enough to repeat are run this many times
#: and their median is reported.
SETUP_REPS = 3


@dataclass
class PassResult:
    op_latencies: list[float] = field(default_factory=list)
    op_names: list[str] = field(default_factory=list)
    rows_read: int = 0
    counters: dict[str, float] = field(default_factory=dict)


def span(layer: str, name: str):
    """A traced span around a materialisation the benchmark triggers
    (a sink write or a collect), charged to the layer whose function
    built the frame. No-op when tracing is off."""
    tracer = active()
    return tracer.span(layer, name) if tracer is not None else contextlib.nullcontext()


def timed_median(fn, reps: int) -> float:
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


class Workload:
    name = ""

    def __init__(self, seed: int, work: str, spark_factory):
        self.seed, self.work = seed, work
        self.spark_factory = spark_factory
        self.spark = None
        self.attempted = 0
        self.failed = 0

    def op(self, label: str, fn):
        """Run one counted operation; returns its result or None."""
        self.attempted += 1
        try:
            return fn()
        except Exception:  # noqa: BLE001 - a failed op is counted, the loop goes on
            self.fail(label, traceback.format_exc())
            return None

    def fail(self, label: str, why: str) -> None:
        self.failed += 1
        print(f"[perfbench] FAILED {label}: {why}", file=sys.stderr, flush=True)

    def check(self, label: str, ok: bool, why: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.fail(label, why)

    def start_session(self) -> float:
        t0 = time.perf_counter()
        self.spark = self.spark_factory()
        return time.perf_counter() - t0


# ---------------------------------------------------------------------------
# warehouse_analytics
# ---------------------------------------------------------------------------

#: The fixed query list and the tables each query reads (for rows read).
WAREHOUSE_QUERIES = {
    "trend_rules": ("lineitem", "part"),
    "pricing_summary": ("lineitem",),
    "top_customers": ("customer", "orders", "nation"),
    "pivot_returnflag": ("lineitem",),
    "cube_orders": ("orders",),
    "sessionize_events": ("events",),
    "tumbling_daily_events": ("events",),
    "json_extract_agg": ("events",),
    "ols_metrics": ("lineitem",),
    "dedup_keep_last": ("lineitem",),
    "market_share_region": ("lineitem", "part", "supplier", "orders", "customer", "nation", "region"),
    "grouped_ols_nation_trend": ("orders", "customer", "nation"),
}

#: The value check runs every query on a smaller instance of the same
#: generator (this share of the sf0.1 row counts); it doubles as the
#: JVM and codegen warm-up. At 5 % a second timed pass in the same run
#: was up to a quarter faster than the first, and the pass time spread
#: 0.18 over ten seeds (0.10 at 15 %).
CHECK_SCALE = 0.15
#: Relative tolerance of the value check. Spark and DuckDB add floats in
#: different orders, so a rounded sum of money values (which often sits
#: on a half-way tie) can differ by one unit in its last place: a 1e-11
#: relative difference on a 1e8 sum. Any other difference is reported.
FLOAT_TOL = 1e-9


def _duckdb_views(data_dir: str, tables):
    import duckdb

    con = duckdb.connect()
    for t in tables:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet/*.parquet')"
        )
    return con


class WarehouseAnalytics(Workload):
    """Twelve oracle-backed registry queries over seeded TPC-H-shaped
    tables with the sf0.1 row counts, each written to the noop sink."""

    name = "warehouse_analytics"

    def __init__(self, seed, work, spark_factory, scale: float = 1.0):
        super().__init__(seed, work, spark_factory)
        self.rows = {k: v if k in ("region", "nation") else max(1, int(v * scale))
                     for k, v in gen.SF01_ROWS.items()}
        self.check_rows = {k: v if k in ("region", "nation") else max(1, int(v * scale * CHECK_SCALE))
                           for k, v in gen.SF01_ROWS.items()}
        self.data = os.path.join(work, "tables")
        self.check_data = os.path.join(work, "check_tables")
        self.expected_rows: dict[str, int] = {}

    def setup(self) -> dict[str, float]:
        from tests.oracle_utils import compare

        from big_data_analysis_spark.concurrency import run_jobs
        from big_data_analysis_spark.queries import ORACLES, QUERIES

        steps = {"session_s": self.start_session()}
        steps["generate_s"] = timed_median(
            lambda: gen.write_warehouse(self.seed, self.data, self.rows), SETUP_REPS
        )
        t0 = time.perf_counter()
        gen.write_warehouse(self.seed + 1_000_003, self.check_data, self.check_rows)
        con = _duckdb_views(self.check_data, self.rows)

        def check(q):
            return self.op(f"check {q}", lambda: compare(
                QUERIES[q](self.spark, self.check_data), con.cursor(), ORACLES[q],
                float_tol=FLOAT_TOL))

        # the checks are independent: run them on the engine's driver
        # thread pool so the warm-up costs less wall time
        for q, got in zip(WAREHOUSE_QUERIES, run_jobs([lambda q=q: check(q) for q in WAREHOUSE_QUERIES])):
            if got is not None:
                self.check(f"oracle {q}", got[0], got[1])
        self.spark.catalog.clearCache()
        steps["warmup_check_s"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        con = _duckdb_views(self.data, self.rows)
        for q in WAREHOUSE_QUERIES:
            n = con.execute(f"SELECT count(*) FROM ({ORACLES[q]})").fetchone()[0]
            self.expected_rows[q] = n
            self.check(f"non-empty {q}", n > 0, "oracle returns no rows on the generated tables")
        steps["oracle_counts_s"] = time.perf_counter() - t0
        return steps

    def before_pass(self) -> None:
        self.spark.catalog.clearCache()

    def run_pass(self) -> PassResult:
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from big_data_analysis_spark.queries import QUERIES

        res = PassResult()
        spark = self.spark_factory()
        for q, tables in WAREHOUSE_QUERIES.items():
            obs = Observation()
            t0 = time.perf_counter()

            def run(q=q, obs=obs):
                df = QUERIES[q](spark, self.data)
                with span("queries", "sink"):
                    df.observe(obs, F.count(F.lit(1)).alias("n")).write.format("noop").mode("overwrite").save()
                return obs.get["n"]

            n = self.op(f"query {q}", run)
            res.op_latencies.append(time.perf_counter() - t0)
            res.op_names.append(q)
            res.rows_read += sum(self.rows[t] for t in tables)
            if n is not None:
                self.check(f"rows {q}", n == self.expected_rows[q],
                           f"{n} rows, oracle has {self.expected_rows[q]}")
            spark.catalog.clearCache()
        return res

    def quality(self) -> dict[str, float]:
        return {}


# ---------------------------------------------------------------------------
# corpus_refresh
# ---------------------------------------------------------------------------

#: Base corpus size, shard count and shard size of the refresh sequence.
BASE_DOCS = 600
SHARDS = 2
SHARD_DOCS = 100
#: Share of planted duplicates in the base corpus and in each shard.
BASE_DUP_FRAC = 0.1
SHARD_DUP_FRAC = 0.3
#: Sizes of the warm-up corpus and shard (untimed, own stores).
WARM_BASE_DOCS = 60
WARM_SHARD_DOCS = 20
IVF_CELLS = 8
SEM_THRESHOLD = 0.9
STORES = ("fp", "mh", "sh", "ivf")


def _dir_bytes_files(path: str) -> tuple[int, int]:
    size = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(root, n))
            files += 1
    return size, files


def _live_versions(store: str) -> int:
    """Artifacts the store's manifest references (one per append)."""
    with open(os.path.join(store, "_INDEX.json"), encoding="utf-8") as fh:
        man = json.load(fh)
    names = set(os.listdir(store))
    return sum(
        1 for k, v in man.items() if k != "retained" and isinstance(v, list)
        for x in v if isinstance(x, str) and x in names
    )


class CorpusRefresh(Workload):
    """Set-up seeds the fingerprint, MinHash, SimHash and IVFPQ stores
    from a seeded base corpus; the timed phase refreshes them with a
    fixed sequence of shards, one refresh step per shard."""

    name = "corpus_refresh"

    def __init__(self, seed, work, spark_factory, scale: float = 1.0):
        super().__init__(seed, work, spark_factory)
        self.n_base = max(40, int(BASE_DOCS * scale))
        self.n_shard = max(10, int(SHARD_DOCS * scale))
        self.data = os.path.join(work, "corpus")
        self.golden = os.path.join(work, "stores")
        self.pass_no = 0
        self.acc = {"caught": 0, "caught_planted": 0, "planted": 0, "sem_found": 0}
        self.store_bytes = 0
        self.store_docs = 0

    def _generate(self) -> None:
        g = gen.CorpusGenerator(self.seed)
        self.base = g.corpus(self.n_base, BASE_DUP_FRAC)
        gen.write_corpus(self.base, os.path.join(self.data, "base"))
        prior, self.shards = self.base, []
        for i in range(SHARDS):
            s = g.corpus(self.n_shard, SHARD_DUP_FRAC, prior=prior)
            gen.write_corpus(s, os.path.join(self.data, f"shard{i}"), files=1)
            self.shards.append(s)
            prior = gen.concat(prior, s)
        warm = g.corpus(WARM_BASE_DOCS, BASE_DUP_FRAC)
        gen.write_corpus(warm, os.path.join(self.data, "warm_base"), files=1)
        warm_shard = g.corpus(WARM_SHARD_DOCS, SHARD_DUP_FRAC, prior=warm)
        gen.write_corpus(warm_shard, os.path.join(self.data, "warm_shard"), files=1)

    def _load(self, path: str):
        from big_data_analysis_spark.io import load_tables, spread

        t = load_tables(self.spark, path, ["documents", "embeddings"])
        return spread(t["documents"]), spread(t["embeddings"])

    def setup(self) -> dict[str, float]:
        steps = {"session_s": self.start_session()}
        steps["generate_s"] = timed_median(self._generate, SETUP_REPS)
        from big_data_analysis_spark.concurrency import run_jobs

        def warm_up():
            stores = os.path.join(self.work, "warm_stores")
            self._seed_stores(os.path.join(self.data, "warm_base"), stores)
            self.op("warm-up shard", lambda: self._step(os.path.join(self.data, "warm_shard"), stores))

        # The warm-up refreshes small stores of its own, so the timed
        # shards start with a warm JVM; it overlaps the seeding of the
        # real stores, which leaves the cores mostly idle.
        t0 = time.perf_counter()
        run_jobs([lambda: self._seed_stores(os.path.join(self.data, "base"), self.golden), warm_up])
        steps["seed_stores_and_warmup_s"] = time.perf_counter() - t0
        return steps

    def _seed_stores(self, corpus_dir: str, stores: str) -> None:
        from big_data_analysis_spark.concurrency import run_jobs
        from big_data_analysis_spark.operators import dedup as dd
        from big_data_analysis_spark.operators import similarity as sim

        docs, emb = self._load(corpus_dir)
        seeds = docs.select("doc_id", "text").localCheckpoint(eager=True)
        vecs = emb.select("vec_id", "embedding").localCheckpoint(eager=True)
        p = {k: os.path.join(stores, k) for k in STORES}

        def ivf():
            encoded, cents, books = sim.ivfpq_build(
                vecs, n_cells=IVF_CELLS, m=8, k=32, max_iter=5, keep_cols=["embedding"]
            )
            sim.ivfpq_save(encoded, cents, books, p["ivf"])

        self.op("seed stores", lambda: run_jobs([
            lambda: dd.fingerprint_index_save(seeds, "text", "doc_id", p["fp"]),
            lambda: dd.minhash_index_save(seeds, "text", "doc_id", p["mh"]),
            lambda: dd.simhash_index_save(seeds, "text", "doc_id", p["sh"]),
            ivf,
        ]))

    def before_pass(self) -> None:
        self.spark.catalog.clearCache()
        self.pass_no += 1
        self.stores = os.path.join(self.work, f"pass_stores_{self.pass_no}")
        shutil.copytree(self.golden, self.stores)

    def _step(self, shard_dir: str, stores: str):
        """One shard: the text dedup cascade and the semantic increment
        side by side (they touch disjoint stores), then the verdicts,
        the semantic pairs, and the quality and language tags of the
        admitted docs."""
        from pyspark.sql import functions as F

        from big_data_analysis_spark.concurrency import run_jobs
        from big_data_analysis_spark.operators import dedup as dd
        from big_data_analysis_spark.operators import similarity as sim
        from big_data_analysis_spark.operators import text as tx

        spark = self.spark
        docs, emb = self._load(shard_dir)
        p = {k: os.path.join(stores, k) for k in STORES}
        (verdicts, stats), sem = run_jobs([
            lambda: dd.dedup_cascade_increment(
                spark, docs.select("doc_id", "text"), "text", p["fp"], p["mh"], p["sh"],
                return_stats=True,
            ),
            lambda: sim.semantic_dedup_increment(
                spark, p["ivf"], emb.select("vec_id", "embedding"), threshold=SEM_THRESHOLD
            ),
        ])
        with span("dedup", "sink"):
            rows = verdicts.select("doc_id", "tier").collect()
        with span("similarity", "sink"):
            sem_pairs = {(r[0], r[1]) for r in sem.select("id_a", "id_b").collect()}
        tagged = tx.lang_id_heuristic(tx.quality_score(docs, "text"), "text")
        kept = verdicts.filter(F.col("kept")).select("doc_id")
        with span("text", "sink"):
            admitted = tagged.join(kept, "doc_id").select("doc_id", "lang", "lang_pred").collect()
        return rows, stats, sem_pairs, admitted

    def run_pass(self) -> PassResult:
        res = PassResult()
        self.spark_factory()
        caught = {"exact": 0, "jaccard": 0, "simhash": 0}
        for i, shard in enumerate(self.shards):
            t0 = time.perf_counter()
            out = self.op(f"shard {i}", lambda i=i: self._step(
                os.path.join(self.data, f"shard{i}"), self.stores))
            res.op_latencies.append(time.perf_counter() - t0)
            res.op_names.append(f"shard{i}")
            res.rows_read += len(shard.ids)
            if out is not None:
                self._check_shard(i, shard, *out)
                for k in caught:
                    caught[k] += out[1][f"caught_{k}"]
        res.counters = {f"dedup.tier_caught.{k}": float(v) for k, v in caught.items()}
        res.counters["dedup.pairs_out"] = float(sum(caught.values()))
        res.counters["dedup.increment_growth"] = res.op_latencies[-1] / res.op_latencies[0]
        sizes = [_dir_bytes_files(os.path.join(self.stores, k)) for k in STORES]
        res.counters["index_store.files"] = float(sum(f for _b, f in sizes))
        res.counters["index_store.versions"] = float(sum(
            _live_versions(os.path.join(self.stores, k)) for k in STORES))
        self.store_bytes = sum(b for b, _f in sizes)
        self.store_docs = len(self.base.ids) + sum(len(s.ids) for s in self.shards)
        shutil.rmtree(self.stores, ignore_errors=True)
        return res

    def _check_shard(self, i, shard, rows, stats, sem_pairs, admitted) -> None:
        planted = shard.planted
        tiers = {r[0]: r[1] for r in rows}
        missed = [d for d, (_o, k) in planted.items() if k == "exact" and tiers.get(d) != "exact"]
        self.check(f"shard {i} exact verdicts", not missed,
                   f"planted exact copies without verdict 'exact': {missed[:5]}")
        self.check(f"shard {i} verdict coverage",
                   len(rows) == len(shard.ids) and set(tiers) == {int(x) for x in shard.ids},
                   "verdicts do not cover the shard exactly once")
        wrong = [r[0] for r in admitted if r[1] != r[2]]
        self.check(f"shard {i} admitted tags", len(admitted) == stats["kept"] and not wrong,
                   f"{len(admitted)} admitted rows for {stats['kept']} kept docs, "
                   f"language mislabelled on {wrong[:5]}")
        dropped = {d for d, t in tiers.items() if t != "kept"}
        self.acc["caught"] += len(dropped)
        self.acc["caught_planted"] += len(dropped & set(planted))
        self.acc["planted"] += len(planted)
        self.acc["sem_found"] += len({(o, d) for d, (o, _k) in planted.items()} & sem_pairs)

    def quality(self) -> dict[str, float]:
        a = self.acc
        return {
            "dup_recall": a["caught_planted"] / max(1, a["planted"]),
            "dup_precision": a["caught_planted"] / a["caught"] if a["caught"] else 1.0,
            "semantic_recall": a["sem_found"] / max(1, a["planted"]),
            "store_bytes_per_doc": self.store_bytes / max(1, self.store_docs),
        }


WORKLOADS = {w.name: w for w in (WarehouseAnalytics, CorpusRefresh)}
