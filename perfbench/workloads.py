"""The three benchmark workloads: one closed-loop client each.

A workload names its inputs, sets itself up on a fresh session, and yields
passes: lists of ``(name, thunk)`` ops run back to back in a seeded order.
Correctness is checked outside the timed ops: ``mart_refresh`` and
``entity_resolution`` compare each query with its DuckDB ``oracle_sql()``
twin on the same inputs; ``daily_upserts`` replays its seeded change
batches in plain Python and compares every lookup, the final table and the
final mart with the replay.

Package functions are reached through their modules at call time
(``manifest.read_manifest_table``, not ``from … import``) so that the
traced run's wrappers see every call.
"""

from __future__ import annotations

import decimal
import os
import random
import threading

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import report

MART_QUERIES = (
    "mart_star_trends pricing_summary dim_time dedup_keep_last "
    "customers_without_orders relative_date window_topk semi_join "
    "left_join_chain month_over_month rolling_avg cube_rollup grouping_sets "
    "events_rollup corrections insert_missing merge_upsert fb_dates "
    "clean_chain asof_join range_join sessionize funnel cohort_retention "
    "gap_fill unpivot_measures pivot_event_types salted_rollup"
).split()

ER_QUERIES = (
    "fuzzy_match fuzzy_blocked minhash_pairs simhash_pairs cosine_topk "
    "semantic_dedup ngram_jaccard dedup_groups substring_dedup top_terms "
    "gopher_quality lang_id"
).split()

_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class _OracleCheck:
    """Runs every query's DuckDB twin on a background thread (DuckDB
    releases the GIL), so the oracle overlaps the untimed warm-up pass."""

    def __init__(self, sf_dir: str, tables: list[str], names: list[str]):
        self._sf_dir, self._tables, self._names = sf_dir, tables, names
        self._results: dict[str, tuple[list[str], set]] = {}
        self._error: BaseException | None = None
        self._thread = threading.Thread(target=self._run, daemon=True)

    def start(self) -> None:
        self._thread.start()

    def _run(self) -> None:
        import duckdb

        import __spark_entry__ as entry

        try:
            sql = entry.oracle_sql()
            con = duckdb.connect()
            con.execute("SET threads TO 2")
            for t in self._tables:
                path = os.path.join(self._sf_dir, f"{t}.parquet")
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
                )
            for name in self._names:
                res = con.execute(sql[name])
                cols = sorted(d[0] for d in res.description)
                self._results[name] = (cols, set(map(tuple, res.fetchall())))
            con.close()
        except BaseException as e:  # noqa: BLE001 — reported by result()
            self._error = e

    def result(self, timeout_s: float) -> dict[str, tuple[list[str], set]]:
        self._thread.join(timeout_s)
        if self._thread.is_alive():
            raise TimeoutError("DuckDB oracle did not finish")
        if self._error is not None:
            raise self._error
        return self._results


class QueryWorkload:
    """``mart_refresh`` / ``entity_resolution``: registry queries, each
    materialized through the noop sink."""

    WARMUP = "one pass that collects every query for the oracle check"

    def __init__(self, name: str, queries: list[str], tables: list[str]):
        self.name, self.queries, self.tables = name, queries, tables
        self.sf_dir = ""

    def setup(self, spark, catalog, work_dir: str) -> None:
        catalog.register_testdata(spark, self.sf_dir, self.tables)
        spark.table(self.tables[0]).count()

    def warmup_and_check(self, spark, run_op, seed: int) -> list[str]:
        """One untimed pass that collects every query and compares it with
        its oracle; returns the names that did not match."""
        import __spark_entry__ as entry

        oracle = _OracleCheck(self.sf_dir, self.tables, self.queries)
        oracle.start()
        fns = entry.queries()
        got: dict[str, tuple[list[str], set]] = {}

        def collect(name):
            df = fns[name](spark, self.sf_dir)
            got[name] = (sorted(df.columns), {tuple(r) for r in df.collect()})
            spark.catalog.clearCache()

        order = list(self.queries)
        random.Random(f"{seed}:warmup").shuffle(order)
        for name in order:
            run_op(f"check:{name}", lambda n=name: collect(n))
        want = oracle.result(timeout_s=120)
        return [f"{n}: differs from its oracle" for n in self.queries
                if n in got and got[n] != want[n]]

    def passes(self, spark, seed: int):
        import __spark_entry__ as entry

        fns = entry.queries()
        rng = random.Random(f"{seed}:passes")

        def op(name):
            _noop(fns[name](spark, self.sf_dir))
            spark.catalog.clearCache()

        while True:
            order = list(self.queries)
            rng.shuffle(order)
            yield [(name, lambda n=name: op(n)) for name in order]

    def before_op(self, name: str) -> None:
        pass

    def after_op(self, spark, name: str, tracer) -> None:
        pass

    def finish(self, spark, runner) -> list[str]:
        return []


class UpsertWorkload:
    """``daily_upserts``: one writer lands a seeded change batch per
    simulated day, drains it as one merge epoch, folds the feed interval
    into the mart, and serves seeded point and range lookups."""

    name = "daily_upserts"
    tables = ["orders"]
    #: rows per daily batch: updates (every ``TOMB_EVERY``-th a tombstone)
    #: plus inserts past the max key
    UPDATES, INSERTS, TOMB_EVERY = 240, 60, 5
    POINT_LOOKUPS, RANGE_LOOKUPS, RANGE_WIDTH = 2, 2, 150
    COMPACT_EVERY, WARMUP_DAYS = 3, 3
    #: compaction folds files below this size. The bootstrap and the merges
    #: write key-clustered files of ~25 KB at sf 0.01; folding those into
    #: one would leave lookups nothing to skip, so they count as full-size.
    SMALL_BYTES = 10_000
    #: a pass is two compaction cycles, for six freshness samples
    DAYS_PER_PASS = 2 * COMPACT_EVERY
    #: retained versions: a day commits a merge and maybe a compaction,
    #: and the mart fold reads the feed from the previous day's head
    KEEP = 4
    WARMUP = f"{WARMUP_DAYS} days"

    def __init__(self):
        self.sf_dir = ""
        self.replay: dict[int, tuple[int, str, int]] = {}
        self.day = 0
        self.lookup_mismatch: list[str] = []
        #: traced-pass storage counters (see ``after_op``)
        self.io: dict[str, int] = {}

    # -- set-up ------------------------------------------------------------
    def setup(self, spark, catalog, work_dir: str) -> None:
        import pyspark.sql.functions as F

        from tibame_project_spark.plans import warehouse
        from tibame_project_spark.sources import manifest

        root = os.path.join(work_dir, f"table_{os.urandom(4).hex()}")
        self.base = os.path.join(root, "orders")
        self.landing = os.path.join(root, "landing")
        self.ckpt = os.path.join(root, "ckpt")
        self.state = os.path.join(root, "cursor.json")
        os.makedirs(self.landing)
        orders = catalog.load(spark, self.sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_orderpriority",
            F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
        )
        manifest.write_manifest_table(
            spark, orders, self.base, stats_cols=["o_orderkey"],
            cluster_by="o_orderkey", n_files=8, keep=self.KEEP,
        )
        mart, head = warehouse.maintain_mart_from_feed(
            spark, self.base, "o_orderkey", **self._mart_kw()
        )
        self.mart = mart.localCheckpoint(eager=True)
        self.head = head
        manifest.manifest_feed_commit(spark, self.state, head)

    def _mart_kw(self) -> dict:
        return dict(
            state_path=self.state, group_cols=["o_orderpriority"],
            counts=["n"], sums={"total": "price"},
        )

    # -- seeded change batches and their replay -----------------------------
    def _load_replay(self) -> None:
        t = pq.read_table(os.path.join(self.sf_dir, "orders.parquet"))
        cents = np.round(t["o_totalprice"].to_numpy() * 100).astype(np.int64)
        self.replay = {
            int(k): (int(c), p, int(v))
            for k, c, p, v in zip(
                t["o_orderkey"].to_numpy(), t["o_custkey"].to_numpy(),
                t["o_orderpriority"].to_pylist(), cents,
            )
        }
        self.max_key = max(self.replay)

    def _scattered(self, rng: np.random.Generator) -> bool:
        """One day in each measured cycle (at a seeded position) scatters
        its updates over the whole key space, so file skipping fails; the
        others hit the newest tenth. Warm-up runs one day of each kind."""
        d = self.day - self.WARMUP_DAYS
        if d < 0:
            return d == -1
        if d % self.COMPACT_EVERY == 0:
            self._scatter_at = int(rng.integers(0, self.COMPACT_EVERY))
        return d % self.COMPACT_EVERY == self._scatter_at

    def _batch(self, rng: np.random.Generator) -> pa.Table:
        live = np.fromiter(self.replay, dtype=np.int64)
        if not self._scattered(rng):
            live = live[live >= self.max_key - self.max_key // 10]
        keys = np.sort(rng.choice(live, min(self.UPDATES, len(live)), replace=False))
        ins = np.arange(self.max_key + 1, self.max_key + 1 + self.INSERTS)
        keys = np.concatenate([keys, ins])
        n = len(keys)
        dead = np.zeros(n, dtype=bool)
        dead[: n - self.INSERTS : self.TOMB_EVERY] = True
        cust = rng.integers(0, 150_000, n)
        prio = rng.choice(_PRIORITIES, n)
        cents = rng.integers(100_000, 50_000_000, n)
        for k, c, p, v, d in zip(keys, cust, prio, cents, dead):
            if d:
                self.replay.pop(int(k), None)
            else:
                self.replay[int(k)] = (int(c), str(p), int(v))
        self.max_key += self.INSERTS
        price = [decimal.Decimal(int(v)).scaleb(-2) for v in cents]
        return pa.table({
            "o_orderkey": pa.array(keys, pa.int64()),
            "o_custkey": pa.array(cust, pa.int64()),
            "o_orderpriority": pa.array(prio, pa.string()),
            "price": pa.array(price, pa.decimal128(18, 2)),
            "dead": pa.array(dead),
        })

    # -- ops -----------------------------------------------------------------
    def _fresh(self, spark) -> None:
        """Landed batch → merge epoch committed → mart folded and persisted."""
        from tibame_project_spark.plans import warehouse
        from tibame_project_spark.sources import manifest
        from tibame_project_spark.streaming import incremental

        stream = (
            spark.readStream.schema(self._stream_schema)
            .parquet(self.landing)
        )
        incremental.stream_cdc_apply_manifest(
            stream, self.base, "o_orderkey", checkpoint=self.ckpt,
            delete_col="dead", compact_every=self.COMPACT_EVERY, keep=self.KEEP,
            small_bytes=self.SMALL_BYTES,
        )
        mart, head = warehouse.maintain_mart_from_feed(
            spark, self.base, "o_orderkey", mart=self.mart,
            applied_head=self.head, **self._mart_kw()
        )
        self.mart = mart.localCheckpoint(eager=True)
        self.head = head
        manifest.manifest_feed_commit(spark, self.state, head)

    def _lookup(self, spark, where: str, want: int) -> None:
        from tibame_project_spark.sources import manifest

        self._last_lookup = manifest.read_manifest_table(spark, self.base, where=where)
        rows = self._last_lookup.collect()
        if len(rows) != want:
            self.lookup_mismatch.append(f"{where}: {len(rows)} rows, want {want}")

    def _land(self) -> None:
        """Write the day's change batch where the stream picks it up, apply
        it to the replay, and draw the day's lookups with their expected
        row counts."""
        rng = self.rng
        path = os.path.join(self.landing, f"day_{self.day:05d}.parquet")
        pq.write_table(self._batch(rng), path)
        self.day += 1
        recent = self.max_key - self.max_key // 10
        self._today = []
        for i in range(self.POINT_LOOKUPS + self.RANGE_LOOKUPS):
            lo = int(rng.integers(recent if i % 2 else 0, self.max_key + 1))
            hi = lo if i < self.POINT_LOOKUPS else lo + self.RANGE_WIDTH
            where = (
                f"o_orderkey = {lo}" if lo == hi
                else f"o_orderkey BETWEEN {lo} AND {hi}"
            )
            self._today.append((where, sum(1 for k in self.replay if lo <= k <= hi)))

    def _day_ops(self, spark) -> list:
        ops = [("land", self._land), ("fresh", lambda: self._fresh(spark))]
        for i in range(self.POINT_LOOKUPS + self.RANGE_LOOKUPS):
            kind = "point" if i < self.POINT_LOOKUPS else "range"
            ops.append((
                f"lookup_{kind}", lambda i=i: self._lookup(spark, *self._today[i])
            ))
        return ops

    def warmup_and_check(self, spark, run_op, seed: int) -> list[str]:
        from pyspark.sql.types import (
            BooleanType, DecimalType, LongType, StringType, StructField,
            StructType,
        )

        self._stream_schema = StructType([
            StructField("o_orderkey", LongType()),
            StructField("o_custkey", LongType()),
            StructField("o_orderpriority", StringType()),
            StructField("price", DecimalType(18, 2)),
            StructField("dead", BooleanType()),
        ])
        self._load_replay()
        self.rng = np.random.default_rng([seed, 1])
        for _ in range(self.WARMUP_DAYS):
            for name, thunk in self._day_ops(spark):
                run_op(f"warmup:{name}", thunk)
        return []

    def passes(self, spark, seed: int):
        while True:
            yield [op for _ in range(self.DAYS_PER_PASS) for op in self._day_ops(spark)]

    def before_op(self, name: str) -> None:
        if name == "fresh":
            self._files = report.dir_files(self.base)

    def after_op(self, spark, name: str, tracer) -> None:
        """Traced passes only, outside the op: what the op wrote, what its
        feed interval held, and how many files a lookup opened."""
        from tibame_project_spark.sources import manifest

        io = self.io
        if name == "fresh":
            new = {p: b for p, b in report.dir_files(self.base).items()
                   if p not in self._files}
            io["files_written"] = io.get("files_written", 0) + len(new)
            io["bytes_written"] = io.get("bytes_written", 0) + sum(new.values())
            changes, _ = tracer.captured["manifest_feed"]
            io["feed_rows"] = io.get("feed_rows", 0) + changes.count()
        elif name.startswith("lookup"):
            io["lookup_files_scanned"] = (
                io.get("lookup_files_scanned", 0) + len(self._last_lookup.inputFiles())
            )
            io["lookup_files_live"] = (
                io.get("lookup_files_live", 0)
                + len(manifest.manifest_file_paths(spark, self.base))
            )

    def finish(self, spark, runner) -> list[str]:
        """Vacuum, compare the final table and mart with the replay, and
        measure what the table stores."""
        import pyspark.sql.functions as F

        from tibame_project_spark.sources import manifest

        runner.run_op("vacuum", lambda: manifest.vacuum_manifest_table(spark, self.base))
        bad = list(self.lookup_mismatch)
        table = runner.call("check:table", lambda: manifest.read_manifest_table(
            spark, self.base).select(
                "o_orderkey", "o_custkey", "o_orderpriority",
                (F.col("price") * 100).cast("long").alias("cents"),
        ).collect())
        got = {r[0]: (r[1], r[2], r[3]) for r in table}
        if len(table) != len(got) or got != self.replay:
            bad.append("final table differs from the replay")
        want_mart: dict[str, list[int]] = {}
        for _, p, v in self.replay.values():
            agg = want_mart.setdefault(p, [0, 0])
            agg[0] += 1
            agg[1] += v
        got_mart = {
            r["o_orderpriority"]: [r["n"], int(r["total"] * 100)]
            for r in runner.call("check:mart", self.mart.collect)
        }
        if got_mart != want_mart:
            bad.append("final mart differs from the replay")
        # bytes under the table dir ÷ its live rows written once as plain
        # parquet with the same codec
        plain = os.path.join(os.path.dirname(self.base), "plain.parquet")
        rows = runner.call(
            "check:rows", lambda: manifest.read_manifest_table(spark, self.base).toArrow()
        )
        pq.write_table(rows, plain, compression="snappy")
        self.stored_bytes_ratio = (
            sum(report.dir_files(self.base).values()) / os.path.getsize(plain)
        )
        self.live_files = len(runner.call(
            "check:files", lambda: manifest.manifest_file_paths(spark, self.base)
        ))
        return bad


NAMES = ("mart_refresh", "entity_resolution", "daily_upserts")


def make(name: str):
    if name == "mart_refresh":
        return QueryWorkload(
            name, MART_QUERIES,
            ["region", "nation", "customer", "supplier", "part", "orders",
             "lineitem", "events"],
        )
    if name == "entity_resolution":
        return QueryWorkload(
            name, ER_QUERIES, ["customer", "supplier", "documents", "embeddings"],
        )
    if name == "daily_upserts":
        return UpsertWorkload()
    raise ValueError(f"unknown workload {name!r}")
