"""The four workloads. Each is a closed loop with one client: the next
operation starts only after the previous one returned and was checked.

A workload generates its inputs from the seed (untimed), prepares a
session (part of set-up), then serves operations. ``op`` is timed,
``check`` is not, and ``release`` (the release call a user would make
after reading a result) is timed again. Every ``with tr.span(...)`` marks
one call into a package module; with tracing off it costs nothing.
"""

from __future__ import annotations

import os
import random
import shutil

import duckdb
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

import gen
from globalweather_etl_spark.functions import weather_band
from globalweather_etl_spark.operators.ivm import IncrementalAggregate, Measure
from globalweather_etl_spark.oracles import PIPELINE_ORACLES
from globalweather_etl_spark.plans import (
    build_warehouse,
    curate_documents,
    materialize,
)
from globalweather_etl_spark.plans import dashboard
from globalweather_etl_spark.sources import (
    AS_OF_DATE,
    SnapshotTable,
    load_table,
    weather_staging_from_events,
)


class Mismatch(Exception):
    """An operation's output differs from the expected answer."""


def canon(rows) -> list[tuple]:
    """Engine-neutral, order-independent form of a result: every value
    by its exact repr, rows sorted."""
    return sorted(tuple(repr(v) for v in r) for r in rows)


def fingerprint(df: DataFrame) -> tuple[int, str]:
    """Order-independent (row count, hash sum) of a frame, computed in
    one Spark job. Columns are taken by name and rendered as strings,
    so equal values of different integer widths hash alike."""
    cols = sorted(df.columns)
    h = F.xxhash64(F.concat_ws(
        "\x1f",
        *[F.coalesce(F.col(c).cast("string"), F.lit("\x00")) for c in cols],
    ))
    r = df.agg(F.count(F.lit(1)), F.sum(h.cast("decimal(38,0)"))).first()
    return int(r[0]), str(r[1])


def _duck(data_dir: str):
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM read_parquet("
        f"'{os.path.join(data_dir, 'events.parquet')}')"
    )
    return con


class Workload:
    name = ""
    warmups = 1
    trace_stride = 1  # traced runs trace operations in groups this long

    def __init__(self, work: str, seed: int):
        self.work = work
        self.seed = seed
        self.data = os.path.join(work, "data")
        self.spark: SparkSession | None = None
        self.scratch = ""  # the current set-up's output directory
        self.rows_per_op = 0

    def generate(self) -> dict:
        """Write the inputs and any oracle answers; return input sizes."""
        raise NotImplementedError

    def prepare(self, spark: SparkSession, tr) -> None:
        self.spark = spark

    def op(self, tr):
        raise NotImplementedError

    def check(self, out, tr) -> None:
        pass

    def release(self, out, tr) -> None:
        pass

    def finish(self, tr) -> None:
        """Checks over the whole run, after the last operation."""


class StarRebuild(Workload):
    name = "star_rebuild"
    # Ten replicas of the sf0.1-shaped events would make one rebuild
    # take longer than a whole run; two keep several rebuilds per run.
    REPLICAS = 2

    def generate(self) -> dict:
        sizes = gen.write(gen.events(self.seed, self.REPLICAS), self.data, "events")
        ref = _duck(self.data).execute(PIPELINE_ORACLES["pipeline_fact"]).arrow()
        self._oracle = os.path.join(self.work, "oracle_fact.parquet")
        pq.write_table(ref, self._oracle)
        self.rows_per_op = sizes["fact_rows"] = ref.num_rows
        self._ref = None
        self._n = 0
        return sizes

    def op(self, tr):
        spark = self.spark
        self._n += 1
        out = os.path.join(self.scratch, "warehouse", str(self._n))
        with tr.span("sources.load_table"):
            events = load_table(spark, self.data, "events")
        with tr.span("sources.weather_staging"):
            staging = weather_staging_from_events(events)
        with tr.span("plans.pipeline.build_warehouse"):
            wh = build_warehouse(spark, staging, AS_OF_DATE)
        with tr.span("plans.pipeline.materialize"):
            wh = materialize(wh, out)
        with tr.span("plans.pipeline.validate"):
            wh.validate()
        return wh, out

    def check(self, out, tr) -> None:
        wh, path = out
        if self._ref is None:
            self._ref = fingerprint(self.spark.read.parquet(self._oracle))
        got = fingerprint(wh.fact)
        # delete the rebuild while its files are young (see Run.setup)
        shutil.rmtree(path)
        if got != self._ref:
            raise Mismatch(f"fact fingerprint {got} != oracle {self._ref}")


class DashboardMix(Workload):
    name = "dashboard_mix"
    QUERIES = ("q1", "q2", "q3", "q4", "q5")
    warmups = trace_stride = len(QUERIES)  # whole rounds (see _rounds)

    def generate(self) -> dict:
        sizes = gen.write(gen.events(self.seed), self.data, "events")
        con = _duck(self.data)
        self._oracle = {
            q: canon(con.execute(PIPELINE_ORACLES[f"dashboard_{q}"]).fetchall())
            for q in self.QUERIES
        }
        self.rows_per_op = sizes["fact_rows"] = con.execute(
            f"SELECT count(*) FROM ({PIPELINE_ORACLES['pipeline_fact']})"
        ).fetchone()[0]
        return sizes

    def prepare(self, spark, tr) -> None:
        self.spark = spark
        with tr.span("sources.load_table"):
            events = load_table(spark, self.data, "events")
        with tr.span("sources.weather_staging"):
            staging = weather_staging_from_events(events)
        with tr.span("plans.pipeline.build_warehouse"):
            wh = build_warehouse(spark, staging, AS_OF_DATE)
        with tr.span("plans.pipeline.materialize"):
            wh = materialize(wh, os.path.join(self.scratch, "warehouse"))
        with tr.span("plans.pipeline.validate"):
            wh.validate()
        self.wh = wh
        self._next = self._rounds()

    def _rounds(self):
        """Seeded shuffles of whole rounds of the five queries: every run
        serves them in equal shares, and the first round warms each up."""
        rng = random.Random(self.seed)
        while True:
            r = list(self.QUERIES)
            rng.shuffle(r)
            yield from r

    def op(self, tr):
        q = next(self._next)
        wh = self.wh
        build = {
            "q1": lambda: dashboard.q1(wh.fact, wh.dim_date),
            "q2": lambda: dashboard.q2(wh.fact, wh.dim_location),
            "q3": lambda: dashboard.q3(wh.fact),
            "q4": lambda: dashboard.q4(wh.fact),
            "q5": lambda: dashboard.q5(wh.fact),
        }[q]
        with tr.span(f"plans.dashboard.{q}"):
            with tr.span(f"plans.dashboard.{q}_build"):
                df = build()
            if tr.active:
                with tr.span(f"plans.dashboard.{q}_plan"):
                    df._jdf.queryExecution().executedPlan()
            with tr.span(f"plans.dashboard.{q}_exec"):
                rows = df.collect()
        return q, rows

    def check(self, out, tr) -> None:
        q, rows = out
        if canon(rows) != self._oracle[q]:
            raise Mismatch(f"{q} differs from the dashboard_{q} oracle")


class IvmMicrobatch(Workload):
    name = "ivm_microbatch"
    warmups = 6
    USERS = 1_500
    DAYS = 30
    BATCH_ROWS = 250
    GROUP = ["DATE_VALID_STD", "WEATHER_BAND"]
    MEASURES = [
        Measure("DAYS", "count"),
        Measure("AVG_TEMP_F", "avg", "AVG_TEMPERATURE_AIR_2M_F"),
        Measure("PRECIP_IN", "sum", "TOT_PRECIPITATION_IN"),
        Measure("MAX_TEMP_F", "max", "MAX_TEMPERATURE_AIR_2M_F"),
    ]

    def generate(self) -> dict:
        t = gen.stream_events(self.seed, self.USERS, self.DAYS, self.BATCH_ROWS)
        sizes = gen.write(t, self.data, "events")
        self.n_batches = sizes["batches"] = -(-t.num_rows // self.BATCH_ROWS)
        self.rows_per_op = self.BATCH_ROWS
        return sizes

    def prepare(self, spark, tr) -> None:
        self.spark = spark
        path = os.path.join(self.scratch, "state")
        self.agg = IncrementalAggregate(spark, path, self.GROUP, self.MEASURES)
        # A run folds only a handful of batches, so the state table
        # writes its full-listing checkpoint every 4 commits instead of
        # every 16; each run then crosses several checkpoint cycles.
        self.agg.table = SnapshotTable(spark, path, checkpoint_interval=4)
        with tr.span("sources.load_table"):
            self.events = load_table(spark, self.data, "events")
        self.folded = 0
        self.version = None
        self.summaries: list[dict] = []

    def _staged(self, cond) -> DataFrame:
        return weather_staging_from_events(self.events.filter(cond)).withColumn(
            "WEATHER_BAND", weather_band(F.col("AVG_TEMPERATURE_AIR_2M_F"))
        )

    def op(self, tr):
        b = self.folded
        if b >= self.n_batches:
            raise RuntimeError("the generated stream has no batches left")
        with tr.span("sources.weather_staging"):
            batch = self._staged(F.col("batch_no") == b)
        with tr.span("operators.ivm.apply_batch"):
            summary = self.agg.apply_batch(batch, batch_id=b)
        self.folded += 1
        with tr.span("operators.ivm.read"):
            rows = self.agg.read().collect()
        return summary, rows

    def check(self, out, tr) -> None:
        summary, rows = out
        with tr.span("sources.snapshots.latest_version"):
            v = self.agg.table.latest_version()
        # a fresh table's first commit is version 1
        want = (self.version or 0) + 1
        if v != want or summary.get("version") != v:
            raise Mismatch(f"fold committed version {v}, expected {want}")
        self.version = v
        if not rows:
            raise Mismatch("empty aggregate after a fold")
        if tr.active:
            files = self.agg.table.read().inputFiles()
            state_bytes = sum(
                os.path.getsize(f.removeprefix("file:")) for f in files
            )
            kept = summary["files_rewritten"] + summary["files_kept"]
            self.summaries.append({
                "op": tr.op,
                "files_rewritten_frac": (
                    summary["files_rewritten"] / kept if kept else 0.0
                ),
                "state_bytes": state_bytes,
                "live_files": len(files),
            })

    def finish(self, tr) -> None:
        full = self._staged(F.col("batch_no") < self.folded)
        got = canon(self.agg.read().collect())
        want = canon(self.agg.recompute(full).collect())
        if got != want:
            raise Mismatch("final state differs from recompute() over all batches")


class CorpusCuration(Workload):
    name = "corpus_curation"

    def generate(self) -> dict:
        sizes = gen.write(gen.documents(self.seed), self.data, "documents")
        self.rows_per_op = sizes["rows"]
        self._counts = None
        return sizes

    def prepare(self, spark, tr) -> None:
        self.spark = spark
        with tr.span("sources.load_table"):
            self.docs = load_table(spark, self.data, "documents")
        # the seed picks which seventh of the corpus is the eval slice
        self.evals = self.docs.filter(F.col("doc_id") % 7 == self.seed % 7)

    def op(self, tr):
        with tr.span("plans.curation.curate_documents"):
            res = curate_documents(self.docs, benchmark=self.evals)
        with tr.span("plans.curation.write"):
            res.curated.write.format("noop").mode("overwrite").save()
        return res

    def check(self, res, tr) -> None:
        counts = res.counts()
        if self._counts is None:
            self._counts = counts
        elif counts != self._counts:
            raise Mismatch(f"stage counts {counts} != first run {self._counts}")

    def release(self, res, tr) -> None:
        with tr.span("plans.curation.unpersist"):
            res.unpersist()


WORKLOADS = {
    w.name: w for w in (StarRebuild, DashboardMix, IvmMicrobatch, CorpusCuration)
}
