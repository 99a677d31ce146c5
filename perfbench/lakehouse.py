"""The ``lakehouse`` workload: writes beside reads on one
``VersionedTable`` built in setup from the generated ``orders``, one
commit per order year, so commit dirs carry meaning.

Each cycle runs, closed-loop: a ``merge`` of a seeded update batch, an
append through ``Pipeline.load_incremental().run()``, a SQL ``UPDATE``
and ``DELETE`` through ``python_etl_spark.sql.sql``, a SQL snapshot
aggregate and a ``read_pruned(eq=...)`` point lookup; every
cycle ends with ``optimize()`` plus ``vacuum()``. Update keys are
recency-skewed: two cycles in three hit only the latest year's dir, the
third draws merge keys from the whole table and aims its DML at an
older year, so dir pruning helps some merges and not others (the run
reports the share of merges that rewrite at most one dir).

Flush policy: the table's own. A commit publishes its manifest with
``os.link`` (fail-on-exists); the benchmark forces no fsync.

Every op is logged, and after the timed loop the log is replayed in
DuckDB: each read and lookup result, and the final snapshot, must
match the replay.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import datagen
from harness import Run, p50

KINDS = ["merge", "append", "update", "delete", "read", "lookup", "maint"]
# optimize() compacts only dirs below this size: the small append
# dirs, not the per-year dirs
SMALL_DIR_BYTES = 16 * 1024
# recency skew: in every UNIFORM_EVERY cycles, the last one's merge
# draws keys from the whole table and its DML targets a seeded older
# year; the other cycles hit only the latest year
UNIFORM_EVERY = 3
# the table holds the latest YEARS order years, one commit dir each
YEARS = 3
_KEY_BASE = 100_000_000
_READ_SQL = (
    "SELECT o_year, o_orderstatus, COUNT(*) AS n, "
    "CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents "
    "FROM {t} GROUP BY o_year, o_orderstatus"
)


def _with_year(t: pa.Table) -> pa.Table:
    return t.append_column("o_year", pc.year(t["o_orderdate"]).cast(pa.int32()))


def _files(root: str) -> dict[str, int]:
    out = {}
    for d, _dirs, names in os.walk(root):
        for n in names:
            p = os.path.join(d, n)
            out[p] = os.path.getsize(p)
    return out


def _parquet_under(dirs: list[str]) -> list[str]:
    out = []
    for d in dirs:
        for root, _dirs, names in os.walk(d):
            out += [os.path.join(root, n) for n in names if n.endswith(".parquet")]
    return out


class Lakehouse:
    def __init__(self, run: Run, sizes: datagen.Sizes) -> None:
        self.run = run
        self.sizes = sizes
        self.root = run.path("lake", "orders")
        self.batch_dir = run.path("batches")
        self.rng = np.random.default_rng(run.seed + 7)
        self.failures: list[str] = []
        self.attempted = 0
        self.samples: dict[str, list[float]] = {k: [] for k in KINDS}
        self.cycle_dml: list[float] = []
        self.log: list[tuple] = []
        self.commit_stats: list[dict] = []
        self.user_bytes = 0
        self.cycle = 0
        self.batches = 0
        self.corrupt = False
        self.space_amp = 0.0
        self._timing = False

    # ----------------------------------------------------------- setup
    def generate(self) -> None:
        os.makedirs(self.batch_dir, exist_ok=True)
        orders = _with_year(datagen.tables(self.run.seed, self.sizes)["orders"])
        orders = orders.filter(pc.greater_equal(orders["o_year"], pc.max(orders["o_year"]).as_py() - YEARS + 1))
        self.orders = orders
        self.base_files = []
        for y in sorted(set(orders["o_year"].to_pylist())):
            p = os.path.join(self.batch_dir, f"base-{y}.parquet")
            pq.write_table(orders.filter(pc.equal(orders["o_year"], y)), p)
            self.base_files.append((y, p))
        keys = orders["o_orderkey"].to_numpy()
        years = orders["o_year"].to_numpy()
        self.latest_year = int(years.max())
        self.keys_all = keys
        self.keys_recent = keys[years == self.latest_year]
        self.next_key = _KEY_BASE
        self.batch_rows = max(20, len(keys) // 75)

    def build(self) -> None:
        from python_etl_spark.sinks.table import VersionedTable

        spark = self.run.spark
        # checkpoint_interval=0 keeps optimize() from dropping old
        # manifests: after that cleanup, incremental_load's bookmark walk
        # (incremental.last_watermark -> VersionedTable.meta) raises
        # FileNotFoundError on the next append. Full history is kept
        # until that is fixed.
        self.table = VersionedTable(self.root, checkpoint_interval=0)
        for i, (_y, p) in enumerate(self.base_files):
            df = spark.read.parquet(p)
            if i == 0:
                self.table.create(df, bloom_keys=["o_orderkey"])
            else:
                self.table.append(df)

    # ----------------------------------------------------------- cycle
    def warm(self) -> None:
        """One untimed cycle."""
        self._timing = False
        for kind in KINDS:
            self._do(kind)
        self.cycle += 1

    def reset(self) -> None:
        """Drop the samples and commit records taken so far (after the
        settle phase)."""
        self.samples = {k: [] for k in KINDS}
        self.cycle_dml = []
        self.commit_stats = []
        self.user_bytes = 0

    def settle(self) -> None:
        """Nothing: a cycle takes longer than a query pass, and one more
        would push a run past its time budget. The timed block's best
        samples come mostly from its later cycles."""

    def timed(self, seconds: float) -> None:
        """Whole blocks of ``UNIFORM_EVERY`` cycles, at least one, ending
        at the block boundary nearest to ``seconds``. Any
        ``UNIFORM_EVERY`` consecutive cycles hold exactly one uniform
        cycle, so every run times the same mix of recent and uniform
        ops: three samples of each verb."""
        self._timing = True
        t0 = time.perf_counter()
        blocks = 0
        while True:
            for _ in range(UNIFORM_EVERY):
                for kind in KINDS:
                    self._do(kind)
                self.cycle += 1
            blocks += 1
            used = time.perf_counter() - t0
            if used + used / blocks / 2 >= seconds:
                return

    def _do(self, kind: str) -> None:
        tr = self.run.tracer
        self.attempted += 1
        before = _files(self.root)
        old = self.table._read_manifest()
        t0 = time.perf_counter()
        try:
            with tr.span("op", op=f"{kind}#{self.cycle}"):
                getattr(self, f"_{kind}")()
        except Exception as e:  # noqa: BLE001 - counted in error_rate
            self.failures.append(f"{kind}#{self.cycle}: {type(e).__name__}: {e}")
            return
        dt = time.perf_counter() - t0
        if not self._timing:
            return
        self.samples[kind].append(dt)
        if kind == "delete" and len(self.samples["update"]) == len(self.samples["delete"]):
            self.cycle_dml.append(self.samples["update"][-1] + dt)
        new = self.table._read_manifest()
        if new["version"] != old["version"]:
            self._commit_stat(kind, before, old, new)

    def _commit_stat(self, kind: str, before: dict, old: dict, new: dict) -> None:
        after = _files(self.root)
        added = {p: s for p, s in after.items() if p not in before}
        old_dirs, new_dirs = set(old["data_dirs"]), set(new["data_dirs"])
        gone = old_dirs - new_dirs
        made = {
            os.path.dirname(p) for p in added
            if os.path.basename(os.path.dirname(p)).startswith("commit-")
        }
        self.commit_stats.append(
            {
                "kind": kind,
                "versions": new["version"] - old["version"],
                "bytes_written": sum(added.values()),
                "files_added": sum(1 for p in added if p.endswith(".parquet")),
                "files_removed": sum(
                    1 for p in before
                    if p.endswith(".parquet") and any(p.startswith(d + os.sep) for d in gone)
                ),
                "dirs_rewritten": len(gone),
                "dirs_total": len(old_dirs),
                "manifest_bytes": sum(
                    s for p, s in added.items() if f"{os.sep}_manifests{os.sep}" in p
                ),
                "orphan_dirs": len(made - new_dirs),
            }
        )

    # ----------------------------------------------------------- verbs
    def _batch(self, name: str, t: pa.Table) -> str:
        self.batches += 1
        p = os.path.join(self.batch_dir, f"{name}-{self.batches}.parquet")
        pq.write_table(t, p)
        if self._timing:
            self.user_bytes += os.path.getsize(p)
        return p

    def _merge(self) -> None:
        pool = self.keys_all if self._uniform() else self.keys_recent
        keys = np.sort(self.rng.choice(pool, self.batch_rows, replace=False))
        rows = self.orders.take(pa.array(np.searchsorted(self.orders["o_orderkey"].to_numpy(), keys)))
        n = rows.num_rows
        rows = rows.set_column(
            rows.schema.get_field_index("o_totalprice"), "o_totalprice",
            pa.array(np.round(self.rng.integers(100_000, 50_000_000, n) / 100.0, 2)),
        ).set_column(
            rows.schema.get_field_index("o_orderstatus"), "o_orderstatus",
            pa.array(self.rng.choice(["F", "O", "P"], n)),
        )
        p = self._batch("merge", rows)
        with self.run.tracer.span("sinks.table.merge"):
            self.table.merge(self.run.spark.read.parquet(p), ["o_orderkey"])
        self.log.append(("merge", p))

    def _append(self) -> None:
        from python_etl_spark.pipeline import Pipeline

        n = self.batch_rows
        t = datagen.orders_table(self.rng, n, self.sizes.customers, key0=self.next_key)
        days = self.rng.integers(0, 200, n).astype("timedelta64[D]")
        t = t.set_column(
            t.schema.get_field_index("o_orderdate"), "o_orderdate",
            pa.array(np.datetime64(f"{self.latest_year}-01-01", "us") + days, pa.timestamp("us")),
        )
        t = _with_year(t)
        self.next_key += n
        self.orders = pa.concat_tables([self.orders, t])
        self.keys_recent = np.concatenate([self.keys_recent, t["o_orderkey"].to_numpy()])
        self.keys_all = np.concatenate([self.keys_all, t["o_orderkey"].to_numpy()])
        p = self._batch("append", t)
        pipe = Pipeline(self.run.spark).extract("new", "parquet", p)
        pipe.load_incremental("new", self.root, "o_orderkey")
        with self.run.tracer.span("pipeline.run") as sp:
            pipe.run()
        loaded = pipe.incremental_results["new"]["rows_loaded"]
        self.log.append(("append", p))
        if sp is not None:
            sp["rows_loaded"] = loaded
        if loaded != n:
            raise RuntimeError(f"incremental load took {loaded} rows, batch has {n}")

    def _uniform(self) -> bool:
        return self.cycle % UNIFORM_EVERY == UNIFORM_EVERY - 1

    def _pick_year(self) -> int:
        if not self._uniform():
            return self.latest_year
        return int(self.rng.choice([y for y, _ in self.base_files[:-1]]))

    def _dml(self, stmt: str) -> None:
        from python_etl_spark.sql import sql

        with self.run.tracer.span("sql.route"):
            sql(self.run.spark, stmt.format(t=f"vt'{self.root}'")).collect()
        self.log.append(("dml", stmt.format(t="lake")))

    def _update(self) -> None:
        y, c = self._pick_year(), int(self.rng.integers(0, 53))
        self._dml(
            "UPDATE {t} SET o_orderpriority = '1-URGENT', o_totalprice = o_totalprice + 1.0 "
            f"WHERE o_year = {y} AND o_orderkey % 53 = {c}"
        )

    def _delete(self) -> None:
        y, c = self._pick_year(), int(self.rng.integers(0, 97))
        self._dml(f"DELETE FROM {{t}} WHERE o_year = {y} AND o_orderkey % 97 = {c}")

    def _read(self) -> None:
        from python_etl_spark.sql import sql

        with self.run.tracer.span("sql.route"):
            df = sql(self.run.spark, _READ_SQL.format(t=f"vt'{self.root}'"))
        with self.run.tracer.span("spark.exec"):
            pdf = df.toPandas()
        self.log.append(("read", pdf))

    def _lookup(self) -> None:
        key = int(self.rng.choice(self.keys_all if self._uniform() else self.keys_recent))
        with self.run.tracer.span("sources.read_pruned") as sp:
            pdf = self.table.read_pruned(self.run.spark, eq={"o_orderkey": key}).toPandas()
        if sp is not None:
            sp["files_total"] = len(_parquet_under(self.table._read_manifest()["data_dirs"]))
        self.log.append(("lookup", key, pdf))

    def _maint(self) -> None:
        with self.run.tracer.span("sinks.table.optimize"):
            self.table.optimize(self.run.spark, small_bytes=SMALL_DIR_BYTES)
        with self.run.tracer.span("sinks.table.vacuum"):
            self.table.vacuum()

    # ----------------------------------------------------------- after
    def measure_space(self) -> None:
        """Table bytes on disk over the bytes of one compacted copy of
        the live snapshot (untimed)."""
        out = self.run.path("compacted")
        self.table.read(self.run.spark).coalesce(1).write.parquet(out)
        compact = sum(_files(out).values())
        self.space_amp = sum(_files(self.root).values()) / compact

    def replay_and_check(self) -> None:
        """Replay the logged ops in DuckDB and compare every read, every
        lookup and the final snapshot."""
        import duckdb

        from python_etl_spark.testing import compare_frames

        con = duckdb.connect()
        files = ", ".join(f"'{p}'" for _y, p in self.base_files)
        con.execute(f"CREATE TABLE lake AS SELECT * FROM read_parquet([{files}])")
        for entry in self.log:
            kind = entry[0]
            if kind == "merge":
                src = f"read_parquet('{entry[1]}')"
                con.execute(f"DELETE FROM lake WHERE o_orderkey IN (SELECT o_orderkey FROM {src})")
                con.execute(f"INSERT INTO lake SELECT * FROM {src}")
            elif kind == "append":
                con.execute(f"INSERT INTO lake SELECT * FROM read_parquet('{entry[1]}')")
            elif kind == "dml":
                con.execute(entry[1])
            elif kind == "read":
                self._compare("read", entry[1], con.execute(_READ_SQL.format(t="lake")).df())
            elif kind == "lookup":
                want = con.execute(f"SELECT * FROM lake WHERE o_orderkey = {entry[1]}").df()
                self._compare(f"lookup {entry[1]}", entry[2], want)
        snap = self.table.read(self.run.spark).toPandas()
        want = con.execute("SELECT * FROM lake").df()
        if self.corrupt:
            want = want.iloc[1:]
        self.attempted += 1
        r = compare_frames("snapshot", snap, want)
        if not r.ok:
            self.failures.append(f"final snapshot: {r.detail}")
        con.close()

    def _compare(self, what: str, got, want) -> None:
        from python_etl_spark.testing import compare_frames

        r = compare_frames(what, got, want)
        if not r.ok:
            self.failures.append(f"{what}: {r.detail} {r.diffs[:1]}")

    # ---------------------------------------------------------- report
    def verb_report(self) -> dict:
        s = self.samples
        merges = [c for c in self.commit_stats if c["kind"] == "merge"]
        written = sum(c["bytes_written"] for c in self.commit_stats)
        return {
            "merge_p50_s": p50(s["merge"]),
            "append_p50_s": p50(s["append"]),
            "dml_p50_s": p50(self.cycle_dml),
            "read_p50_s": p50(s["read"]),
            "lookup_p50_s": p50(s["lookup"]),
            "maint_p50_s": p50(s["maint"]),
            "write_amp": written / self.user_bytes if self.user_bytes else 0.0,
            "space_amp": self.space_amp,
            "merge_small_share": (
                sum(1 for c in merges if c["dirs_rewritten"] <= 1) / len(merges) if merges else 0.0
            ),
        }

    def table_counters(self, jobs_by_kind: dict[str, float]) -> dict:
        cs = self.commit_stats
        merges = [c for c in cs if c["kind"] == "merge"]
        commits = sum(c["versions"] for c in cs)
        jobs = sum(jobs_by_kind.get(k, 0.0) for k in {c["kind"] for c in cs})
        return {
            "table.jobs_per_commit": jobs / commits if commits else 0.0,
            "table.bytes_written": sum(c["bytes_written"] for c in cs),
            "table.files_added": sum(c["files_added"] for c in cs),
            "table.files_removed": sum(c["files_removed"] for c in cs),
            "table.dirs_rewritten": sum(c["dirs_rewritten"] for c in merges),
            "table.dirs_total": sum(c["dirs_total"] for c in merges),
            "table.manifest_bytes": sum(c["manifest_bytes"] for c in cs),
            "table.conflict_retries": sum(c["orphan_dirs"] for c in cs),
        }

