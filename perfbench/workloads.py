"""The benchmark's workloads, one class each.

A workload exposes:

- ``warm(spark)``: the warm-up after ``get_spark`` so caches and JIT are
  warm before timing (``setup_s`` = ``get_spark`` + warm-up);
- ``op(spark, i)``: one timed operation, returning the units it processed;
- ``after_op(spark, i)``: untimed-by-``op`` follow-up work (the analyst read
  of ``velib_hourly``, which times itself into ``read_times``);
- ``check(spark)``: correctness problems found, as strings;
- ``instrument(tracer)`` and ``layer_metrics()`` for traced runs.
"""

from __future__ import annotations

import os
import statistics
import time
from concurrent.futures import ThreadPoolExecutor
from datetime import datetime, timezone

from feed import STATIONS, Feed

import etl_dag_paris_velib_spark.pipeline as pipeline
import etl_dag_paris_velib_spark.sources.fetcher as fetcher
from etl_dag_paris_velib_spark import cacheutil
from etl_dag_paris_velib_spark.plans import REGISTRY
from etl_dag_paris_velib_spark.sources import readers
from etl_dag_paris_velib_spark.streaming import gbfs


def _utc(ts: int) -> datetime:
    return datetime.fromtimestamp(ts, tz=timezone.utc)


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _table_files(path: str) -> int:
    """Data files under a parquet table directory."""
    return sum(f.startswith("part-") for _, _, files in os.walk(path) for f in files)


class Workload:
    def __init__(self, work: str, seed: int) -> None:
        from probe import Tracer

        self.tracer = Tracer()  # the runner hands in its own
        self.read_times: list[float] = []

    def after_op(self, spark, i: int) -> None:
        pass

    def instrument(self, tracer) -> None:
        pass

    def layer_metrics(self) -> dict[str, float]:
        return {}


class VelibHourly(Workload):
    """Hourly two-branch ingest through ``pipeline.run_pipeline``, each run
    followed by the analyst read over the last 24 ingested hours."""

    name = "velib_hourly"
    #: warm-up hours after ``get_spark``: the first is cold, op times keep
    #: falling for about a dozen hours while the JIT settles
    warm_hours = 12

    def __init__(self, work: str, seed: int) -> None:
        super().__init__(work, seed)
        self.feed = Feed(os.path.join(work, "feed"), seed)
        self.bronze = os.path.join(work, "bronze")
        os.makedirs(self.bronze)
        self.gold = os.path.join(work, "gold")
        self.bronze_bytes: list[int] = []
        self.results: list[dict] = []
        self.ingested: list[int] = []  # feed hour indexes written
        self.problems: list[str] = []
        self.run_walls: list[float] = []
        self.first_op = 0  # index of the first timed op's record
        self._next = self.feed.next_hour()  # generated outside the timed op

    def instrument(self, tracer) -> None:
        tracer.wrap(fetcher.FileFetcher, "fetch_to_bronze", "sources.fetch_to_bronze")
        tracer.wrap(readers, "read_parquet", "sources.read_parquet")
        tracer.wrap(pipeline, "write_partitioned_table", "sinks.write_partitioned_table")
        for name in list(pipeline.BRANCH_INGEST):
            tracer.wrap(pipeline.BRANCH_INGEST, name, "sources.ingest_plan")
        tracer.wrap(gbfs, "hourly_availability", "streaming.hourly_availability")

    def _ingest(self, spark) -> int:
        hour = self._next
        fetchers = {
            "weather": fetcher.FileFetcher(hour.weather_path),
            "station_status": fetcher.FileFetcher(hour.station_path),
        }
        t0 = time.perf_counter()
        res = pipeline.run_pipeline(spark, fetchers, self.bronze, self.gold, _utc(hour.run_ts))
        self.run_walls.append(time.perf_counter() - t0)
        h = len(self.feed.hours) - 1
        self.ingested.append(h)
        self.results.append(res)
        self.bronze_bytes.append(sum(os.path.getsize(r.bronze_path) for r in res.values()))
        for name, want in (("station_status", STATIONS), ("weather", 1)):
            if res[name].rows_inserted != want:
                self.problems.append(f"hour {h}: {name} rows_inserted {res[name].rows_inserted} != {want}")
        return STATIONS + 1

    def _read(self, spark) -> None:
        h = self.ingested[-1]
        lo = _utc(self.feed.hours[max(0, h - 23)].run_ts)
        t0 = time.perf_counter()
        rows = analyst_read(spark, self.gold, lo)
        self.read_times.append(time.perf_counter() - t0)
        got = {
            r.window_end: (r.n_reports, r.bikes_available, r.docks_available, r.temp) for r in rows
        }
        want = self.feed.expected_hourly(h)
        if got != want:
            self.problems.append(f"hour {h}: analyst read differs from the feed's own hourly sums")
        self._next = self.feed.next_hour()

    def warm(self, spark) -> None:
        for _ in range(self.warm_hours):
            self._ingest(spark)
            self._read(spark)
        self.first_op = len(self.results)
        self.read_times.clear()

    def op(self, spark, i: int) -> int:
        return self._ingest(spark)

    def after_op(self, spark, i: int) -> None:
        self._read(spark)

    def check(self, spark) -> list[str]:
        n = len(self.ingested)
        st = spark.read.parquet(os.path.join(self.gold, "station_status")).count()
        if st != n * STATIONS:
            self.problems.append(f"station_status gold rows {st} != {n * STATIONS}")
        per_hour = (
            spark.read.parquet(os.path.join(self.gold, "weather"))
            .groupBy("ingest_date", "ingest_hour").count().collect()
        )
        if len(per_hour) != n or any(r["count"] != 1 for r in per_hour):
            self.problems.append("weather gold does not hold exactly one row per ingested hour")
        return self.problems

    def layer_metrics(self) -> dict[str, float]:
        # the warm-up hours are the first rows; keep the timed ops only
        res = self.results[self.first_op:]
        branch = {
            name: _mean(r[name].elapsed_sec for r in res) for name in ("station_status", "weather")
        }
        files = sum(_table_files(os.path.join(self.gold, b)) for b in ("station_status", "weather"))
        return {
            "pipeline.branch_s.station_status": branch["station_status"],
            "pipeline.branch_s.weather": branch["weather"],
            "pipeline.branch_overlap_ratio": _mean(
                (r["station_status"].elapsed_sec + r["weather"].elapsed_sec) / w
                for r, w in zip(res, self.run_walls[self.first_op:])
            ),
            "pipeline.attempts_per_branch": _mean(b.attempts for r in res for b in r.values()),
            "sources.bronze_bytes": _mean(self.bronze_bytes[self.first_op:]),
            "sinks.files_per_op": files / len(self.ingested),
        }


def analyst_read(spark, gold: str, lo: datetime):
    """Hourly bikes and docks available joined to that hour's weather,
    over ingest hours >= ``lo``."""
    from pyspark.sql import functions as F

    hour = F.expr("timestampadd(HOUR, ingest_hour, cast(ingest_date AS timestamp))")
    st = (
        readers.read_parquet(spark, os.path.join(gold, "station_status"))
        .where(hour >= F.lit(lo))
        .dropDuplicates(["station_id", "last_reported"])
    )
    weather = (
        readers.read_parquet(spark, os.path.join(gold, "weather"))
        .where(hour >= F.lit(lo))
        .select(F.col("timestamp").alias("window_end"), "temp")
    )
    avail = gbfs.hourly_availability(st)
    return (
        avail.join(weather, "window_end")
        .select(
            F.unix_timestamp("window_end").alias("window_end"),
            "n_reports",
            "bikes_available",
            "docks_available",
            "temp",
        )
        .collect()
    )


#: The dedup lifecycle, in order: exact, near-dup pairs, bag-of-words,
#: SimHash, n-gram Jaccard, clusters over the pair graph and the purge. The
#: incremental forms (q153, q154) are left out: with them a cold pass and
#: its warm-up no longer fit the benchmark's time budget.
LLM_SPECS = (
    "q20_exact_dedup",
    "q21_near_dup_pairs",
    "q27_bow_dedup",
    "q28_simhash_pairs",
    "q35_ngram_jaccard",
    "q42_dedup_clusters",
    "q152_near_dup_purge",
)


def oracle_diff(con, result_dir: str, oracle: str, tag: str) -> str | None:
    """Compare the parquet result in ``result_dir`` with ``oracle`` run on
    DuckDB as multisets of rows (columns matched by name, doubles rounded to
    nine decimals); a description of the difference, or None. ``tag`` keeps
    the tables of concurrent calls apart."""
    o, s = f"oracle_{tag}", f"result_{tag}"
    con.execute(f"CREATE TABLE {o} AS {oracle.strip().rstrip(';')}")
    con.execute(f"CREATE TABLE {s} AS SELECT * FROM read_parquet('{result_dir}/*.parquet')")
    types = {t: {r[0]: r[1] for r in con.execute(f"DESCRIBE {t}").fetchall()} for t in (o, s)}
    if set(types[o]) != set(types[s]):
        return f"columns {sorted(types[s])} != oracle's {sorted(types[o])}"
    cols = ", ".join(
        f'round("{c}", 9)' if types[o][c] in ("DOUBLE", "FLOAT") else f'"{c}"' for c in sorted(types[o])
    )
    n_s, n_o, extra, missing = con.execute(
        f"""SELECT (SELECT count(*) FROM {s}), (SELECT count(*) FROM {o}),
                   (SELECT count(*) FROM (SELECT {cols} FROM {s} EXCEPT ALL SELECT {cols} FROM {o})),
                   (SELECT count(*) FROM (SELECT {cols} FROM {o} EXCEPT ALL SELECT {cols} FROM {s}))"""
    ).fetchone()
    if extra or missing:
        return f"{n_s} rows against the oracle's {n_o}: {extra} not in the oracle, {missing} missing"
    return None


class LlmDedup(Workload):
    """Cold dedup passes over a seeded corpus. An op is one pass: clear the
    plan caches (a new corpus pays the full cache build), then run the
    lifecycle specs in order into a noop sink; reuse inside the pass is
    kept. Every pass counts each spec's rows (``DataFrame.observe``) and
    compares them with the first pass, whose results are written to parquet
    and compared with each spec's DuckDB oracle after the loop."""

    name = "llm_dedup"
    #: half the 5,000 documents of the sf0.1 test data the specs are built
    #: for: a run with the full corpus (its DuckDB oracles alone take 34 s)
    #: does not fit the benchmark's time budget
    n_docs = 2500

    def __init__(self, work: str, seed: int) -> None:
        super().__init__(work, seed)
        from corpus import write_documents

        self.data = os.path.join(work, "data")
        write_documents(self.data, seed, self.n_docs)
        self.results = os.path.join(work, "results")
        self.specs = [REGISTRY.specs[n] for n in LLM_SPECS]
        self.problems: list[str] = []
        self.rows: dict[str, int] = {}  # spec name -> rows of the first pass
        self.spec_times: dict[str, list[float]] = {n: [] for n in LLM_SPECS}
        self.build: list[float] = []
        self.execute: list[float] = []
        self.clear: list[float] = []

    def instrument(self, tracer) -> None:
        tracer.wrap(cacheutil, "clear_plan_caches", "cacheutil.clear_plan_caches")

    def _result(self, spec) -> str:
        return os.path.join(self.results, spec.name)

    def _pass(self, spark, write) -> None:
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        t0 = time.perf_counter()
        cacheutil.clear_plan_caches(spark)
        self.clear.append(time.perf_counter() - t0)
        for spec in self.specs:
            obs = Observation()
            t1 = time.perf_counter()
            with self.tracer.span(f"plans.build.{spec.name}"):
                df = spec.fn(spark, self.data).observe(obs, F.count(F.lit(1)).alias("rows"))
            t2 = time.perf_counter()
            with self.tracer.span(f"plans.execute.{spec.name}"):
                write(spec, df)
            t3 = time.perf_counter()
            self.build.append(t2 - t1)
            self.execute.append(t3 - t2)
            self.spec_times[spec.name].append(t3 - t1)
            rows = obs.get["rows"]
            want = self.rows.setdefault(spec.name, rows)
            if rows != want:
                self.problems.append(f"{spec.name}: {rows} rows, the first pass had {want}")

    def warm(self, spark) -> None:
        """Two passes whose times are not kept: the first compiles every
        plan shape and writes the results to parquet for the oracle check;
        the second (noop) runs about a quarter slower than later ones, as
        the JIT still warms."""
        try:
            self._pass(spark, lambda spec, df: df.write.parquet(self._result(spec)))
            self.op(spark, -1)
        except Exception as err:  # noqa: BLE001 — reported, the run goes on
            self.problems.append(f"warm-up pass raised {type(err).__name__}: {err}")
        for xs in (self.build, self.execute, self.clear, *self.spec_times.values()):
            xs.clear()

    def op(self, spark, i: int) -> int:
        self._pass(spark, lambda spec, df: df.write.format("noop").mode("overwrite").save())
        return self.n_docs

    def check(self, spark) -> list[str]:
        """The oracles run concurrently, one DuckDB cursor each: the
        recursive ones (q42, q152) use about two of four cores alone."""
        import duckdb

        con = duckdb.connect()
        con.execute(f"CREATE VIEW documents AS SELECT * FROM '{self.data}/documents.parquet'")
        specs = [s for s in self.specs if s.oracle is not None and os.path.isdir(self._result(s))]

        def diff(i: int) -> str | None:
            return oracle_diff(con.cursor(), self._result(specs[i]), specs[i].oracle, str(i))

        with ThreadPoolExecutor(max(len(specs), 1)) as pool:
            for spec, d in zip(specs, pool.map(diff, range(len(specs)))):
                if d:
                    self.problems.append(f"{spec.name}: {d}")
        con.close()
        return self.problems

    def layer_metrics(self) -> dict[str, float]:
        out = {
            "plans.build_s": statistics.median(self.build),
            "plans.execute_s": statistics.median(self.execute),
            "cacheutil.clear_s": statistics.median(self.clear),
        }
        for name, xs in self.spec_times.items():
            out[f"plans.{name.split('_')[0]}_s"] = statistics.median(xs)
        return out


WORKLOADS = {w.name: w for w in (VelibHourly, LlmDedup)}
