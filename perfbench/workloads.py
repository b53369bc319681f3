"""The benchmark's workloads: ``storage`` and ``query``.

Each workload has a one-time ``setup``, a closed ``loop`` that issues one
op at a time until the deadline (one client), a ``check`` of every output
outside the timed region, and a ``report`` of its own layer metrics. All
inputs derive from the run's seed.
"""

from __future__ import annotations

import glob
import json
import os
import random
import time

import duckdb

from harness import median

TICKERS = 8
BARS_PER_DAY = 390


def _close(a, b, rel=1e-9, abs_=1e-9) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        return abs(float(a) - float(b)) <= max(abs_, rel * max(abs(float(a)), abs(float(b))))
    return str(a) == str(b)


def rows_match(got: list[tuple], want: list[tuple], tol: dict[int, float] | None = None) -> bool:
    """Ordered row-by-row comparison; floats to 1e-9 relative, or to the
    absolute tolerance given per column index in ``tol``."""
    tol = tol or {}
    if len(got) != len(want):
        return False
    for g, w in zip(got, want):
        if len(g) != len(w):
            return False
        for i, (a, b) in enumerate(zip(g, w)):
            ok = abs(float(a) - float(b)) <= tol[i] if i in tol else _close(a, b)
            if not ok:
                return False
    return True


def live_files(path: str) -> list[str]:
    """Parquet files of a table's live snapshot, read straight from the
    last manifest line (independent of the storage module's readers)."""
    with open(os.path.join(path, "_manifest.jsonl")) as f:
        last = [json.loads(line) for line in f if line.strip()][-1]
    files = []
    for rel, v in last["snapshot"].items():
        files += glob.glob(os.path.join(path, f"v{int(v):04d}", rel, "*.parquet"))
    return sorted(files)


def _scan(files: list[str]) -> str:
    listed = ", ".join(f"'{f}'" for f in files)
    return f"read_parquet([{listed}], hive_partitioning = true)"


def layout_metrics(path: str) -> dict:
    """Bytes per row and files per partition of the live snapshot."""
    files = live_files(path)
    con = duckdb.connect()
    rows = con.execute(f"SELECT count(*) FROM {_scan(files)}").fetchone()[0]
    parts = {os.path.dirname(f) for f in files}
    return {
        "bytes_per_row": sum(os.path.getsize(f) for f in files) / max(rows, 1),
        "files_per_partition": len(files) / max(len(parts), 1),
    }


# -------------------------------------------------------------------- storage


class Storage:
    """The reference flow around a CDC trickle. Set-up ingests the table
    (synthesize -> derive -> partitioned write). The closed loop then runs
    narrow MERGEs, each followed by a read, for the run's seconds; a DELETE
    of the oldest day, a vendor backfill MERGE and a read follow, and the
    reference's maintenance and query tail closes the run: health ->
    OPTIMIZE/Z-order -> health -> VACUUM -> register -> the two reference
    queries -> history.

    The live table holds the last 16 of 61 generated days; the backfill
    re-delivers corrections for the last 60 days, so it touches 480
    partitions while the table stays small enough for the run budget."""

    name = "storage"
    SPAN_DAYS = 61  # days the generator covers
    N_DAYS = 16  # live table: 8 tickers x 16 days = 128 partitions, 49,920 rows
    BACKFILL_DAYS = 60  # 8 tickers x 60 days = 480 partitions
    N_NARROW = 8  # narrow batches prepared; the loop cycles through them
    READ_DAYS = 5
    KEYS = ["ticker", "timestamp_ms"]
    COLS = (
        "ticker, open, high, low, close, volume, vwap, timestamp_ms, "
        "num_transactions, event_time_utc, event_time_ny, trade_date"
    )
    COMMITS = ("merge", "delete", "backfill", "optimize")
    sizes = {
        "n_days": N_DAYS,
        "partitions": TICKERS * N_DAYS,
        "rows": TICKERS * N_DAYS * BARS_PER_DAY,
        "narrow_partitions": TICKERS,
        "backfill_partitions": TICKERS * BACKFILL_DAYS,
    }

    def setup(self, ctx) -> None:
        """Ingest the table, and write the update batches: corrected bars
        from another seed. Narrow batch i replaces a seeded fifth of one
        recent day's bars (no two batches alike); the backfill carries a
        seeded fifth of the bars of each of the last 60 days."""
        from pyspark.sql import functions as F

        from delta_lake_stock_pipeline_spark.storage import stocks, table

        spark, call = ctx.spark, ctx.call
        self.path = ctx.path("table")
        span = [str(d) for d in stocks_dates(self.SPAN_DAYS)]
        self.dates = span[-self.N_DAYS:]
        bars = call("stocks.synthesize", stocks.synthesize_bars, spark, n_days=self.SPAN_DAYS, seed=ctx.seed)
        bars = call("stocks.derive", stocks.with_derived_columns, bars)
        bars = bars.filter(F.col("trade_date") >= F.lit(self.dates[0]))
        call("table.write", table.write_partitioned, bars, self.path)

        plan = narrow_plan(ctx.seed, self.dates[-self.READ_DAYS:], self.N_NARROW)
        fixed = stocks.with_derived_columns(
            call("stocks.synthesize", stocks.synthesize_bars, spark, n_days=self.SPAN_DAYS, seed=ctx.seed + 1)
        )
        minute = (F.col("timestamp_ms") / 60_000).cast("long")
        batch = F.lit(None).cast("string")
        for i, (day, res) in enumerate(plan):
            batch = F.when((F.col("trade_date") == F.lit(day)) & (minute % 5 == res), F.lit(f"n{i}")).otherwise(batch)
        narrow = fixed.withColumn("batch", batch).filter(F.col("batch").isNotNull())
        backfill = fixed.filter(
            (F.col("trade_date") >= F.lit(span[-self.BACKFILL_DAYS])) & (minute % 5 == random.Random(~ctx.seed).randrange(5))
        ).withColumn("batch", F.lit("backfill"))
        self.batch_dir = ctx.path("batches")
        narrow.unionByName(backfill).write.partitionBy("batch").parquet(self.batch_dir)
        self.log: list[tuple] = []
        self.changed: dict[int, int] = {}

    def after_setup(self, ctx) -> None:
        """The table as ingested, for the check: VACUUM removes its files
        before the run ends."""
        self.con = duckdb.connect()
        self.con.execute(f"CREATE TABLE base AS SELECT {self.COLS} FROM {_scan(live_files(self.path))}")
        self.base_bytes_per_row = layout_metrics(self.path)["bytes_per_row"]

    def _batch(self, name: str) -> str:
        return os.path.join(self.batch_dir, f"batch={name}")

    def _merge(self, ctx, name: str):
        from delta_lake_stock_pipeline_spark.storage import table

        updates = ctx.spark.read.parquet(self._batch(name))
        return ctx.call("table.merge", table.merge_into, ctx.spark, self.path, updates, self.KEYS)

    def _read(self, ctx):
        from pyspark.sql import functions as F

        from delta_lake_stock_pipeline_spark.storage import table

        df = ctx.call("table.read_build", table.read_table, ctx.spark, self.path)
        since = self.dates[-self.READ_DAYS]
        return ctx.call(
            "table.read_exec",
            lambda: tuple(
                df.filter(F.col("trade_date") >= F.lit(since))
                .agg(F.count("*"), F.sum("volume"), F.sum("close"))
                .first()
            ),
        )

    def _step(self, ctx, kind: str, fn, arg=None):
        op = ctx.op(kind, fn)
        self.log.append((kind, arg, op))
        return op

    def loop(self, ctx, seconds: float) -> None:
        from delta_lake_stock_pipeline_spark.storage import maintenance, stocks, table

        spark, call, path = ctx.spark, ctx.call, self.path
        deadline = time.perf_counter() + seconds
        i = 0
        while i == 0 or time.perf_counter() < deadline:
            name = f"n{i % self.N_NARROW}"
            self._step(ctx, "merge", lambda: self._merge(ctx, name), name)
            self._step(ctx, "read", lambda: self._read(ctx))
            i += 1
        oldest = self.dates[0]
        self._step(
            ctx,
            "delete",
            lambda: call("table.delete", table.delete_where, spark, path, f"trade_date = DATE'{oldest}'"),
            oldest,
        )
        self._step(ctx, "backfill", lambda: self._merge(ctx, "backfill"), "backfill")
        self._step(ctx, "read", lambda: self._read(ctx))
        before = self._step(ctx, "health", lambda: call("maintenance.health", maintenance.health_check, spark, path))
        self._step(
            ctx,
            "optimize",
            lambda: call("maintenance.optimize", maintenance.optimize, spark, path, zorder_by="timestamp_ms"),
        )
        self._step(
            ctx,
            "health",
            lambda: call(
                "maintenance.compare",
                maintenance.compare_health,
                before.result,
                call("maintenance.health", maintenance.health_check, spark, path),
            ),
        )
        self._step(ctx, "vacuum", lambda: call("maintenance.vacuum", maintenance.vacuum, path))
        self._step(ctx, "register", lambda: call("table.register", table.register_external, spark, "pb_bars", path))

        def queries():
            view = spark.table("pb_bars")
            envelope = call("stocks.envelope", lambda: stocks.daily_ohlc_envelope(view).collect())
            top = call("stocks.top_volume", lambda: stocks.top_volume_days(view).collect())
            return [tuple(r) for r in envelope], [tuple(r) for r in top]

        self._step(ctx, "queries", queries)
        self._step(ctx, "history", lambda: call("table.history", lambda: table.history(spark, path).collect()))

    def check(self, ctx) -> None:
        """Replay the applied ops on the ingested table in DuckDB: every
        read, the final live table, the two reference queries and the
        history must match it."""
        con, cols = self.con, self.COLS
        con.execute("CREATE OR REPLACE TABLE exp AS SELECT * FROM base")
        since = self.dates[-self.READ_DAYS]
        commits = ["WRITE"]
        for kind, arg, op in self.log:
            if not op.ok:
                continue
            if kind in ("merge", "backfill"):
                batch = f"read_parquet('{self._batch(arg)}/*.parquet')"
                self.changed[op.op_id] = con.execute(f"SELECT count(*) FROM {batch}").fetchone()[0]
                con.execute(
                    f"DELETE FROM exp USING {batch} AS b"
                    " WHERE exp.ticker = b.ticker AND exp.timestamp_ms = b.timestamp_ms"
                )
                con.execute(f"INSERT INTO exp SELECT {cols} FROM {batch}")
                commits.append("MERGE")
            elif kind == "delete":
                where = f"WHERE trade_date = DATE '{arg}'"
                self.changed[op.op_id] = con.execute(f"SELECT count(*) FROM exp {where}").fetchone()[0]
                con.execute(f"DELETE FROM exp {where}")
                commits.append("DELETE")
            elif kind == "optimize":
                commits.append("OPTIMIZE ZORDER BY (timestamp_ms)")
            elif kind == "read":
                want = con.execute(
                    f"SELECT count(*), sum(volume), sum(close) FROM exp WHERE trade_date >= DATE '{since}'"
                ).fetchone()
                if not rows_match([op.result], [tuple(want)]):
                    ctx.wrong(op, f"read {op.result} != expected {want}")
            elif kind == "health" and isinstance(op.result, dict):
                if not op.result["rows_preserved"]:
                    ctx.wrong(op, "OPTIMIZE did not preserve the row count")
            elif kind == "queries":
                envelope = con.execute(
                    "SELECT ticker, trade_date, count(*), min(low), max(high) FROM exp "
                    "GROUP BY ticker, trade_date ORDER BY ticker, trade_date"
                ).fetchall()
                top = con.execute(
                    "SELECT ticker, trade_date, sum(volume) AS v, round(avg(vwap), 2) FROM exp "
                    "GROUP BY ticker, trade_date ORDER BY v DESC LIMIT 5"
                ).fetchall()
                # avg_vwap is rounded to cents: the engines may round a half
                # cent apart, so that column gets one cent of tolerance.
                if not (rows_match(op.result[0], envelope) and rows_match(op.result[1], top, tol={3: 0.0100001})):
                    ctx.wrong(op, "reference queries differ from DuckDB over the expected table")
            elif kind == "history":
                if [r["operation"] for r in op.result] != commits:
                    ctx.wrong(op, f"history {[r['operation'] for r in op.result]} != {commits}")
        live = _scan(live_files(self.path))
        diff = con.execute(
            f"SELECT (SELECT count(*) FROM (SELECT {cols} FROM exp EXCEPT ALL SELECT {cols} FROM {live})),"
            f" (SELECT count(*) FROM (SELECT {cols} FROM {live} EXCEPT ALL SELECT {cols} FROM exp))"
        ).fetchone()
        if diff != (0, 0):
            ctx.incorrect(f"final table differs from the expected state: {diff}")

    def report(self, ctx) -> dict:
        from harness import median_latency

        commits = [o for o in ctx.ops if o.kind in self.COMMITS]
        reads = [o for o in ctx.ops if o.kind == "read"]
        out = {
            "commit_p50_s": median_latency(commits) if commits else 0.0,
            "read_p50_s": median_latency(reads) if reads else 0.0,
        }
        with open(os.path.join(self.path, "_manifest.jsonl")) as f:
            entries = [json.loads(line) for line in f if line.strip()]
        by_version = {e["version"]: e["operationMetrics"] for e in entries}
        written = rows_written = rows_changed = 0
        rewritten = []
        for kind, _arg, op in self.log:
            # MERGE commits only: what copy-on-write rewrote per row changed.
            if kind not in ("merge", "backfill") or op.op_id not in self.changed:
                continue
            m = by_version.get(op.result, {})
            written += m.get("sizeBytes", 0)
            rows_written += m.get("numOutputRows", 0)
            rewritten.append(m.get("numRewrittenPartitions", 0))
            rows_changed += self.changed[op.op_id]
        health = [o.result for o in ctx.ops if o.kind == "health" and o.ok]
        out.update(
            {
                "write_amp": written / max(rows_changed * self.base_bytes_per_row, 1.0),
                "table.rewrite_ratio": rows_written / max(rows_changed, 1),
                "table.rewritten_partitions": median(rewritten) if rewritten else 0,
                "table.manifest_entries": len(entries),
                "table.write_files": by_version.get(0, {}).get("numFiles", 0),
                "table.write_bytes": by_version.get(0, {}).get("sizeBytes", 0),
                "maintenance.files_before": getattr(health[0], "num_files", 0) if health else 0,
                "maintenance.files_delta": health[1]["files_delta"] if len(health) > 1 else 0,
                "maintenance.versions_removed": next(
                    (len(o.result) for o in ctx.ops if o.kind == "vacuum" and o.ok), 0
                ),
                **layout_metrics(self.path),
            }
        )
        return out


def narrow_plan(seed: int, days: list[str], n: int) -> list[tuple[str, int]]:
    """``n`` distinct narrow batches as (day, minute residue mod 5), fixed
    by seed."""
    rng = random.Random(seed)
    return rng.sample([(d, r) for d in days for r in range(5)], n)


def stocks_dates(n_days: int) -> list:
    """Trade dates of ``synthesize_bars(n_days=...)``: consecutive calendar
    days from the generator's first session, 2024-01-08."""
    import datetime

    first = datetime.date(2024, 1, 8)
    return [first + datetime.timedelta(days=i) for i in range(n_days)]


# ---------------------------------------------------------------------- query

# The key mix: one key per operator module, including the consumers of
# the three session artifacts built in set-up (IVF index, shingle
# postings, image fingerprints), plus one sketch key. Two keys have no
# oracle and are fingerprinted: x_hll_sketch, and v_ann_ivf, whose anchor
# twin pins recall@10 >= 8, a property of the engine's own fixtures that
# generated embeddings do not always have.
MIX = {
    "relational": ["o4_topk"],
    "aggregates": ["a0_flagship_daily_rollup", "x_hll_sketch"],
    "joins": ["j_sortmerge"],
    "tpch": ["h_q1_pricing_summary"],
    "subqueries": ["h_q4_order_priority"],
    "windows": ["w_rank"],
    "reshape": ["r_pivot"],
    "scale": ["x_salted_skew_join"],
    "functions_ext": ["fn_date_funcs"],
    "dedup": ["d_ngram_jaccard"],
    "text": ["t_token_count"],
    "curation": ["c_domain_mix"],
    "similarity": ["v_ann_ivf"],
    "multimodal": ["m_image_neardup"],
    "udfs": ["u_pandas_udf"],
}


def query_order(seed: int, passes: int) -> list[tuple[str, str]]:
    """``passes`` seeded shuffles of the mix as (module, key) requests."""
    rng = random.Random(seed)
    mix = [(m, k) for m, keys in MIX.items() for k in keys]
    out = []
    for _ in range(passes):
        p = list(mix)
        rng.shuffle(p)
        out += p
    return out


class Query:
    """Seeded shuffled passes over a fixed mix of operator keys."""

    name = "query"
    SF = 0.01  # lineitem 60,000 rows, documents and embeddings 500 each
    sizes = {"sf": SF, "keys": sum(len(v) for v in MIX.values()), "modules": len(MIX)}

    def setup(self, ctx) -> None:
        import fixtures
        from delta_lake_stock_pipeline_spark.operators import dedup, multimodal, similarity
        from delta_lake_stock_pipeline_spark.sources import fixtures as sources

        spark, call = ctx.spark, ctx.call
        self.sf_dir = ctx.path("sf")
        self.rows = fixtures.write(self.SF, ctx.seed, self.sf_dir)
        call("sources.load", sources.register_views, spark, self.sf_dir)
        call("similarity.index_build", similarity._ivf_index, spark, self.sf_dir)
        call("dedup.postings_build", lambda: dedup._shingle_posts(spark, self.sf_dir).count())
        call("multimodal.fingerprint_build", multimodal._ahash_table, spark, self.sf_dir)
        self.order = query_order(ctx.seed, 1000)

    def loop(self, ctx, seconds: float) -> None:
        """Whole passes: a pass started before the deadline is finished, so
        every run measures the same mix."""
        from delta_lake_stock_pipeline_spark.operators import all_queries

        queries = all_queries()
        per_pass = self.sizes["keys"]
        deadline = time.perf_counter() + seconds
        i = 0
        while time.perf_counter() < deadline or i % per_pass:
            module, key = self.order[i]

            def run(module=module, key=key):
                df = ctx.call(f"{module}.build", queries[key], ctx.spark, self.sf_dir)
                ctx.call(f"{module}.exec", lambda: df.write.format("noop").mode("overwrite").save())
                return key

            ctx.op(module, run)
            i += 1

    def check(self, ctx) -> None:
        """Oracled keys against DuckDB over the same files; the rest must
        give the same fingerprint twice, and as on an earlier run of this
        seed."""
        from delta_lake_stock_pipeline_spark import testing
        from delta_lake_stock_pipeline_spark.operators import all_oracles, all_queries

        queries, oracles = all_queries(), all_oracles()
        con = testing.duckdb_connection(self.sf_dir)
        store = os.path.join(os.path.dirname(ctx.work), "fingerprints", f"query-{ctx.seed}.json")
        seen = {}
        if os.path.exists(store):
            with open(store) as f:
                seen = json.load(f)
        bad: dict[str, str] = {}
        for key in sorted({op.result for op in ctx.ops if op.ok}):
            if key in oracles:
                res = testing.compare(key, queries[key](ctx.spark, self.sf_dir), con, oracles[key])
                if not res.ok:
                    bad[key] = res.detail
                continue
            prints = {fingerprint(queries[key](ctx.spark, self.sf_dir)) for _ in range(2)}
            if len(prints) != 1 or seen.setdefault(key, min(prints)) not in prints:
                bad[key] = "fingerprint differs between executions"
        os.makedirs(os.path.dirname(store), exist_ok=True)
        with open(store, "w") as f:
            json.dump(seen, f, indent=1, sort_keys=True)
        for op in ctx.ops:
            if op.ok and op.result in bad:
                ctx.wrong(op, f"{op.result}: {bad[op.result]}")

    def report(self, ctx) -> dict:
        return {"fixture_rows": self.rows}


def fingerprint(df) -> str:
    """Order-insensitive digest of a result's rows."""
    import hashlib

    rows = sorted(repr(tuple(r)) for r in df.collect())
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()
