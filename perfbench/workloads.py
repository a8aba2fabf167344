"""The benchmark's workloads: what one pass runs and how it is checked.

``etl_daily`` drives the daily DAG (``plans.daily.run_backfill`` over a
seed-chosen window, then one replay of its last day). ``query_mix``
drives ``__spark_entry__.queries()`` entries, one or two per operator
family, in a seed-shuffled order per pass. See ``README.md`` for why
each was chosen and which layer metrics should move on which.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import random
import shutil
import time
import traceback
from dataclasses import dataclass, field

#: days backfilled per etl_daily pass (plus one replay of the last)
ETL_DAYS = 3
#: the window's last day is drawn from this many days before the data's
#: processing date (inclusive)
ETL_WINDOW_RANGE = 28

QUERY_MIX = [
    # relational operators: as-of join, sessionization
    "stock_asof",
    "events_sessionize",
    # iterative: graph fixpoint rounds, BPE merge rounds
    "copurchase_component_sizes",
    "bpe_merges",
    # corpus: dedup, similarity search, Arrow/pandas multimodal boundary
    "contamination_check",
    "ann_topk",
    "image_dims_jpeg",
]

WORKLOADS = ("etl_daily", "query_mix")


@dataclass
class PassResult:
    wall: float = 0.0
    samples: list[tuple[str, float]] = field(default_factory=list)
    attempted: int = 0
    #: op -> why it failed; ``ALL`` fails every op of the pass
    failures: dict[str, str] = field(default_factory=dict)
    output_rows: int = 0

    def fail(self, op: str, why: str) -> None:
        self.failures.setdefault(op, why)

    @property
    def failed(self) -> int:
        return self.attempted if ALL in self.failures else len(self.failures)


ALL = "*"


class Oracle:
    """DuckDB answers for ``oracle_sql()`` entries, as (rows, digest).

    Digests are cached in ``cache_path`` keyed by the SQL text and the
    input tables' stamp, so later runs in a checkout skip the DuckDB
    work; a changed oracle query or generator recomputes."""

    def __init__(self, sf_dir: str, cache_path: str, tmp_dir: str) -> None:
        self.sf_dir = sf_dir
        self.cache_path = cache_path
        self.tmp_dir = tmp_dir
        with open(os.path.join(sf_dir, "_SUCCESS")) as f:
            self.stamp = f.read()
        self.cache: dict[str, list] = {}
        if os.path.exists(cache_path):
            with open(cache_path) as f:
                self.cache = json.load(f)
        self._con = None

    def _connect(self, lineitem_before: dt.date | None):
        import duckdb

        from tools.strict_parity import TABLES

        if self._con is None:
            self._con = duckdb.connect(
                config={"threads": 2, "memory_limit": "2GB", "temp_directory": self.tmp_dir}
            )
            for t in TABLES:
                self._con.sql(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.sf_dir}/{t}.parquet')"
                )
        where = f"WHERE l_shipdate < TIMESTAMP '{lineitem_before}'" if lineitem_before else ""
        self._con.sql(
            "CREATE OR REPLACE VIEW lineitem AS SELECT * FROM "
            f"read_parquet('{self.sf_dir}/lineitem.parquet') {where}"
        )
        return self._con

    def answer(self, sql: str, lineitem_before: dt.date | None = None) -> tuple[int, str]:
        key = hashlib.sha256(f"{self.stamp}|{lineitem_before}|{sql}".encode()).hexdigest()
        if key not in self.cache:
            rel = self._connect(lineitem_before).sql(sql)
            self.cache[key] = list(digest(rel.columns, rel.fetchall()))
            tmp = self.cache_path + ".tmp"
            with open(tmp, "w") as f:
                json.dump(self.cache, f)
            os.replace(tmp, self.cache_path)
        rows, h = self.cache[key]
        return rows, h

    def close(self) -> None:
        if self._con is not None:
            self._con.close()
            self._con = None


def digest(cols: list[str], rows: list) -> tuple[int, str]:
    """Order-insensitive value digest with ``tools/strict_parity.py``'s
    bit-exact cell normalization (columns ordered by name)."""
    from tools.strict_parity import _rows

    return len(rows), hashlib.sha256(repr(_rows(cols, rows)).encode()).hexdigest()


def etl_window(seed: int, processing_date: dt.date) -> list[dt.date]:
    last = processing_date - dt.timedelta(days=random.Random(seed).randrange(ETL_WINDOW_RANGE))
    return [last - dt.timedelta(days=i) for i in range(ETL_DAYS - 1, -1, -1)]


def query_order(seed: int, pass_no: int) -> list[str]:
    order = list(QUERY_MIX)
    random.Random(seed * 1009 + pass_no).shuffle(order)
    return order


class Runner:
    """Runs passes of one workload against one Spark session.

    ``op(name, fn)`` runs one operation as a tracer span, under a fresh
    job group, and returns (result, seconds)."""

    def __init__(self, spark, sf_dir: str, work: str, tracer, oracle: Oracle) -> None:
        import __spark_entry__ as entry
        from retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark.plans import (
            daily,
        )

        self.spark = spark
        self.sf_dir = sf_dir
        self.out_root = os.path.join(work, "out")
        self.tracer = tracer
        self.oracle = oracle
        self.queries = entry.queries()
        self.oracle_sql = entry.oracle_sql()
        self.daily = daily
        self.day_runs: list[tuple[dt.date, float, dict]] = []
        self._time_days()

    def _time_days(self) -> None:
        """Time each ``run_daily_pipeline`` call that ``run_backfill``
        makes (it resolves the function from its module at call time)."""
        inner = self.daily.run_daily_pipeline

        def timed(spark, sf_dir, out_root, processing_date=None, **kw):
            res, s = self.op(f"day {processing_date}", inner, spark, sf_dir, out_root,
                             processing_date=processing_date, **kw)
            self.day_runs.append((processing_date, s, res))
            return res

        self.daily.run_daily_pipeline = timed

    def op(self, name: str, fn, *args, layer: str = "op", **kwargs):
        t0 = time.perf_counter()
        res = self.tracer.call(name, layer, fn, *args, **kwargs)
        return res, time.perf_counter() - t0

    # -- etl_daily --------------------------------------------------------

    def etl_pass(self, dates: list[dt.date], full_check: bool) -> PassResult:
        from retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark.alerts import (
            CollectingSink,
        )

        # a reused out_root would make plan_backfill skip every day
        shutil.rmtree(self.out_root, ignore_errors=True)
        sink = CollectingSink()
        ops = [f"day{i}" for i in range(len(dates))] + ["replay"]
        r = PassResult(attempted=len(ops))
        self.day_runs = []
        t0 = time.perf_counter()
        try:
            res = self.daily.run_backfill(self.spark, self.sf_dir, self.out_root, dates, alert_sink=sink)
            backfill_wall = time.perf_counter() - t0
            before = self._partition(dates[-1])
            replay, replay_s = self.op(
                "replay", self.daily.run_daily_pipeline, self.spark, self.sf_dir,
                self.out_root, processing_date=dates[-1], alert_sink=sink,
            )
        except Exception as e:  # noqa: BLE001 -- a failed pass is reported, not fatal
            traceback.print_exc()
            r.fail(ALL, f"{type(e).__name__}: {str(e)[:200]}")
            return r
        r.wall = backfill_wall + replay_s
        ran = [d for d, _, _ in self.day_runs]
        if res.get("planned") != dates or ran != dates + [dates[-1]]:
            r.fail(ALL, f"ran {ran}, expected {dates} plus one replay")
            return r
        r.samples = [(op, s) for op, (_, s, _) in zip(ops, self.day_runs[:-1])]
        r.samples.append(("replay", replay_s))
        after = self._partition(dates[-1])
        if after != before:
            r.fail("replay", f"changed (rows, files) of {dates[-1]}: {before} -> {after}")
        for op, (d, _, out) in zip(ops, self.day_runs):
            rows, _files = self._partition(d)
            want = out["metrics"]["reconcile"]["rows_written"]
            if rows != want:
                r.fail(op, f"{d}: {rows} rows on disk, Observation says {want}")
        r.output_rows = sum(self._partition(d)[0] for d in dates)
        # the last day's partition on disk is the replay's output
        checked = zip(ops[:-2] + ["replay"], dates) if full_check else [("replay", dates[-1])]
        for op, d in checked:
            got = self._partition_digest(d)
            want = self.oracle.answer(
                f"SELECT * EXCLUDE (date_key) FROM ({self.oracle_sql['reconcile']})",
                lineitem_before=d + dt.timedelta(days=1),
            )
            if got != want:
                r.fail(op, f"{d}: reconciled partition {got} != oracle {want}")
        return r

    def _recon_dir(self, d: dt.date) -> str:
        return os.path.join(self.out_root, "processed", "reconciled_inventory", f"date_key={d}")

    def _partition(self, d: dt.date) -> tuple[int, int]:
        """(rows, data files) of one reconciled partition, from footers."""
        import pyarrow.parquet as pq

        files = data_files(self._recon_dir(d))
        return sum(pq.read_metadata(f).num_rows for f in files), len(files)

    def _partition_digest(self, d: dt.date) -> tuple[int, str]:
        import pyarrow as pa
        import pyarrow.parquet as pq

        table = pa.concat_tables(pq.read_table(f) for f in data_files(self._recon_dir(d)))
        return digest(table.column_names, [list(r.values()) for r in table.to_pylist()])

    # -- query_mix --------------------------------------------------------

    def query_pass(self, order: list[str], verify: bool) -> PassResult:
        r = PassResult(attempted=len(order))
        t0 = time.perf_counter()
        for name in order:
            self.spark.catalog.clearCache()
            try:
                df, build_s = self.op(name, self.queries[name], self.spark, self.sf_dir,
                                      layer="queries.build")
                if verify:
                    cols = df.columns
                    rows, exec_s = self.op(name, lambda: [[x[c] for c in cols] for x in df.collect()],
                                           layer="queries.exec")
                    got = digest(cols, rows)
                    want = self.oracle.answer(self.oracle_sql[name])
                    if got != want:
                        r.fail(name, f"spark {got} != oracle {want}")
                    r.output_rows += len(rows)
                else:
                    _, exec_s = self.op(name, lambda: df.write.format("noop").mode("overwrite").save(),
                                        layer="queries.exec")
            except Exception as e:  # noqa: BLE001 -- a failed op is reported, not fatal
                traceback.print_exc()
                r.fail(name, f"{type(e).__name__}: {str(e)[:200]}")
                continue
            r.samples.append((name, build_s + exec_s))
        self.spark.catalog.clearCache()
        r.wall = time.perf_counter() - t0
        return r


def data_files(path: str) -> list[str]:
    if not os.path.isdir(path):
        return []
    return sorted(
        os.path.join(path, f) for f in os.listdir(path)
        if f.endswith(".parquet") and not f.startswith(".")
    )
