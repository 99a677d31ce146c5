"""The ``analytic`` and ``curation`` workloads: registry queries over
seeded generated tables, run closed-loop from one client.

Setup generates the tables, runs one untimed warm pass that collects
every query's result and checks it (DuckDB oracle through
``python_etl_spark.testing.compare_frames``, or the exact expected row
count for the approximate, rows-only queries). Timed passes then run
the queries in a seeded order, each op being the query constructor
plus a ``noop``-sink write, which computes every output column
(``.count()`` would let Catalyst prune payload and UDF columns).
"""

from __future__ import annotations

import random
import time

import numpy as np

import datagen
from harness import Run

ANALYTIC = [
    "q01_pricing_summary",
    "q03_shipping_priority",
    "q05_local_supplier_volume",
    "q09_product_profit",
    "q13_customer_distribution",
    "q18_large_orders",
    "q21_high_value_open_orders",
    "etl_sessionize",
    "etl_asof_join",
    "win_moving_avg",
    "stream_window_batch_equiv",
    "events_rfm_segments",
    "etl_decile_report",
]
CURATION = [
    "text_quality_score",
    "text_langid",
    "dedup_exact",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_containment",
    "sim_topk_bruteforce",
    "sim_topk_lsh",
    "sim_topk_ivf",
    "text_bpe_tokens",
]
# timed passes at the least: each query's best latency is taken over
# this many samples
TIMED_PASSES = 2
# top-k queries: 10 query vectors x k=5
_TOPK_ROWS = 50


class Failure(Exception):
    """A wrong result (as opposed to an exception raised by the program)."""


class QueryWorkload:
    def __init__(self, run: Run, names: list[str], sizes: datagen.Sizes) -> None:
        self.run = run
        self.names = names
        self.sizes = sizes
        self.data_dir = run.path("data")
        self.rng = random.Random(run.seed)
        self.failures: list[str] = []
        self.attempted = 0
        self.samples: dict[str, list[float]] = {n: [] for n in names}
        self.corrupt: str | None = None

    # ----------------------------------------------------------- setup
    def generate(self) -> None:
        datagen.write_dir(self.data_dir, self.run.seed, self.sizes)

    def warm_and_check(self) -> None:
        """Untimed warm pass: every query once with its full result
        collected; then every result is checked."""
        from python_etl_spark.plans import QUERIES
        from python_etl_spark.testing import duckdb_connection

        order = list(self.names)
        self.rng.shuffle(order)
        results = {}
        for name in order:
            self.attempted += 1
            try:
                results[name] = QUERIES[name](self.run.spark, self.data_dir).toPandas()
            except Exception as e:  # noqa: BLE001 - a failed op is counted, not fatal
                self.failures.append(f"{name}: {type(e).__name__}: {e}")
        con = duckdb_connection(self.data_dir)
        expected_rows = self._expected_rows()
        for name, pdf in results.items():
            try:
                self._check(name, pdf, con, expected_rows)
            except Failure as e:
                self.failures.append(f"{name}: {e}")
        con.close()

    def _check(self, name, pdf, con, expected_rows) -> None:
        from python_etl_spark.plans import ORACLES
        from python_etl_spark.testing import compare_frames

        if name in ORACLES:
            oracle = con.execute(ORACLES[name]).df()
            if name == self.corrupt:
                oracle = oracle.iloc[1:] if len(oracle) else oracle.head(0)
            r = compare_frames(name, pdf, oracle)
            if not r.ok:
                raise Failure(f"oracle mismatch: {r.detail}")
            return
        want = expected_rows[name]
        if name == self.corrupt:
            want += 1
        if len(pdf) != want:
            raise Failure(f"row count {len(pdf)} != expected {want}")

    def _expected_rows(self) -> dict[str, int]:
        """Exact row counts of the rows-only queries. MinHash and
        SimHash pairs are re-derived in numpy from the operators'
        sketches, which checks the banding, candidate join and
        verification of the timed queries (the sketch kernels' value
        identity with their pure-Catalyst twins is pinned by
        tests/test_dedup.py)."""
        out: dict[str, int] = {}
        names = set(self.names)
        if not names & {"dedup_minhash_lsh", "dedup_simhash", "text_bpe_tokens",
                        "sim_topk_lsh", "sim_topk_ivf"}:
            return out
        from python_etl_spark.operators.dedup import minhash_signatures, simhash
        from python_etl_spark.sources.tables import load_table

        docs = load_table(self.run.spark, self.data_dir, "documents")
        out["text_bpe_tokens"] = self.sizes.documents
        out["sim_topk_lsh"] = out["sim_topk_ivf"] = _TOPK_ROWS
        sig = np.array(
            [r["sig"] for r in minhash_signatures(docs).collect()],
            dtype=np.int64,
        )
        out["dedup_minhash_lsh"] = minhash_pairs(sig, bands=16, threshold=0.5)
        sh = np.array(
            [r["simhash"] for r in simhash(docs).collect()], dtype=np.int64
        )
        out["dedup_simhash"] = simhash_pairs(sh, max_hamming=3)
        return out

    # ----------------------------------------------------------- timed
    def reset(self) -> None:
        """Drop the samples taken so far (after the settle phase)."""
        self.samples = {n: [] for n in self.names}

    def settle(self) -> None:
        """One untimed pass after the warm pass: op latencies keep
        falling by about 20 % over the first passes while the JIT
        settles."""
        self._passes(0.0, 1)

    def timed(self, seconds: float) -> None:
        self._passes(seconds, TIMED_PASSES)

    def _passes(self, seconds: float, least: int) -> None:
        """Whole passes in seeded order: at least ``least``, then more
        until the pass boundary nearest to ``seconds``. Every query gets
        the same number of samples."""
        t0 = time.perf_counter()
        p = 0
        while True:
            order = list(self.names)
            self.rng.shuffle(order)
            for name in order:
                self._op(name, p)
            p += 1
            used = time.perf_counter() - t0
            if p >= least and used + used / p / 2 >= seconds:
                return

    def _op(self, name: str, pass_no: int) -> None:
        from python_etl_spark.plans import QUERIES

        spark = self.run.spark
        tr = self.run.tracer
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with tr.span("op", op=f"{name}#{pass_no}"):
                with tr.span("plans.construct"):
                    df = QUERIES[name](spark, self.data_dir)
                if tr.enabled:
                    with tr.span("spark.plan") as sp:
                        sp.update(_planning_phases(df))
                with tr.span("spark.exec"):
                    df.write.format("noop").mode("overwrite").save()
        except Exception as e:  # noqa: BLE001 - counted in error_rate
            self.failures.append(f"{name}#{pass_no}: {type(e).__name__}: {e}")
            return
        self.samples[name].append(time.perf_counter() - t0)

    # --------------------------------------------------------- tracing
    def lsh_counters(self) -> dict:
        """Candidate pairs, verified pairs and the largest band bucket
        of the MinHash LSH, counted through the operator's public
        building blocks (traced runs only; untimed)."""
        if "dedup_minhash_lsh" not in self.names:
            return {}
        from pyspark.sql import functions as F

        from python_etl_spark.operators.dedup import (
            band_buckets,
            lsh_candidate_pairs,
            minhash_signatures,
        )
        from python_etl_spark.plans import QUERIES
        from python_etl_spark.sources.tables import load_table

        tr = self.run.tracer
        with tr.span("operators.dedup.lsh_counters", op="lsh_counters"):
            docs = load_table(self.run.spark, self.data_dir, "documents")
            sigs = minhash_signatures(docs).localCheckpoint(eager=True)
            cands = lsh_candidate_pairs(sigs, 64, 16).count()
            biggest = (
                band_buckets(sigs, 64, 16)
                .groupBy("band", "bucket")
                .count()
                .agg(F.max("count"))
                .first()[0]
            )
            verified = QUERIES["dedup_minhash_lsh"](self.run.spark, self.data_dir).count()
        return {
            "lsh.candidates": cands,
            "lsh.verified": verified,
            "lsh.precision": verified / cands if cands else 0.0,
            "lsh.max_bucket": biggest,
        }


def _planning_phases(df) -> dict:
    """Catalyst analysis and optimization time of the query, from its
    QueryPlanningTracker (optimization is forced here, before the
    action, so it can be read)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()

    def secs(k: str) -> float:
        opt = phases.get(k)
        return opt.get().durationMs() / 1e3 if opt.isDefined() else 0.0

    return {"analyze_s": secs("analysis"), "optimize_s": secs("optimization") + secs("planning")}


def minhash_pairs(sig: np.ndarray, bands: int, threshold: float) -> int:
    """Pairs i<j that share at least one whole band and whose share of
    agreeing min-hashes is >= threshold."""
    n, h = sig.shape
    r = h // bands
    count = 0
    for i in range(n - 1):
        eq = sig[i + 1:] == sig[i]
        cand = eq.reshape(len(eq), bands, r).all(axis=2).any(axis=1)
        est = eq.sum(axis=1) / h
        count += int((cand & (est >= threshold)).sum())
    return count


def simhash_pairs(sh: np.ndarray, max_hamming: int) -> int:
    u = sh.view(np.uint64)
    count = 0
    for i in range(len(u) - 1):
        x = u[i + 1:] ^ u[i]
        bits = np.unpackbits(x.view(np.uint8).reshape(-1, 8), axis=1).sum(axis=1)
        count += int((bits <= max_hamming).sum())
    return count
