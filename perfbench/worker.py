"""One fresh-process run of a workload: set-up, one timed pass, checks.

``run.py`` starts this file as its own process (cold JVM, cold engine
memos, empty IVF stores) with a private TMPDIR and SPARK_LOCAL_DIRS, and
reads the JSON it writes. Usage: python3 perfbench/worker.py CONFIG_JSON

The engine is measured from outside only: the worker times calls into
its public functions and reads Spark's own records (status tracker,
event log). In a traced run it also wraps
``functions.legs.parallel_legs`` before the operator modules bind it.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import threading
import time
import traceback

import numpy as np
import pandas as pd  # module-level: pandas_udf resolves the type hints here

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def dir_mb(path: str) -> float:
    total = 0
    for base, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(base, f)).st_size
            except FileNotFoundError:  # removed while walking
                pass
    return total / (1024 * 1024)


class LegTimer:
    """Replaces ``parallel_legs`` with a wrapper that records each call's
    wall time and the summed duration of its legs."""

    def __init__(self) -> None:
        self.calls: list[dict] = []
        self._lock = threading.Lock()

    def install(self) -> None:
        from cs686_big_data_p1_spark.functions import legs

        inner = legs.parallel_legs

        def parallel_legs(*thunks):
            leg_s: list[float] = []

            def timed(thunk):
                def run():
                    t0 = time.perf_counter()
                    try:
                        return thunk()
                    finally:
                        with self._lock:
                            leg_s.append(time.perf_counter() - t0)

                return run

            start, t0 = time.time(), time.perf_counter()
            try:
                return inner(*(timed(t) for t in thunks))
            finally:
                wall = time.perf_counter() - t0
                with self._lock:
                    self.calls.append(
                        {"start": start, "wall_s": wall, "leg_s": sum(leg_s),
                         "legs": len(thunks)}
                    )

        legs.parallel_legs = parallel_legs


class JobScanner:
    """Attributes Spark jobs to the running query by job id.

    Micro-batch jobs of a stream escape the caller's job group, so the
    scanner does not rely on groups: after draining the listener bus it
    walks ``statusTracker().getJobInfo`` upward from the first id not yet
    attributed. Every job started since the previous scan belongs to the
    current one, whatever its group.
    """

    def __init__(self, sc) -> None:
        self.sc = sc
        self.tracker = sc.statusTracker()
        self.next_id = self._scan(0)

    def _scan(self, start: int) -> int:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        jid = start
        while self.tracker.getJobInfo(jid) is not None:
            jid += 1
        return jid

    def scan(self) -> int:
        """First job id not yet started (peek; attributes nothing)."""
        return self._scan(self.next_id)

    def take(self) -> tuple[int, int]:
        """Half-open id range of the jobs started since the last take."""
        first = self.next_id
        self.next_id = self._scan(first)
        return first, self.next_id

    def counts(self, first: int, end: int) -> dict[str, int]:
        stages: set[int] = set()
        tasks = 0
        for jid in range(first, end):
            info = self.tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                st = self.tracker.getStageInfo(sid)
                # Skipped stages (shuffle output reused) ran no task.
                if st is not None and sid not in stages and st.numCompletedTasks:
                    stages.add(sid)
                    tasks += st.numCompletedTasks
        return {"jobs": end - first, "stages": len(stages), "tasks": tasks}


def materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def warm_python_workers(spark, tmp: str) -> None:
    """bench.py's warm-up of the Python worker pool."""
    materialize(spark.range(32).mapInPandas(lambda it: (p for p in it), "id long"))


def warm_vectors(spark, tmp: str) -> None:
    """A tiny Arrow pandas UDF over array columns, a broadcast cross join
    and a ranking window: the operator shapes of the vector queries. The
    UDF also starts the Python worker pool."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    @F.pandas_udf("double")
    def dot(a: pd.Series, b: pd.Series) -> pd.Series:
        return pd.Series([float(np.dot(x, y)) for x, y in zip(a, b)])

    v = spark.range(16).select(
        "id", F.array(*(F.col("id").cast("float") + i for i in range(4))).alias("v")
    )
    q = v.where("id < 2").select(F.col("id").alias("q"), F.col("v").alias("qv"))
    pairs = v.crossJoin(F.broadcast(q)).select("q", "id", dot("v", "qv").alias("s"))
    rank = Window.partitionBy("q").orderBy(F.desc("s"), "id")
    materialize(pairs.withColumn("r", F.row_number().over(rank)).where("r <= 2"))


def warm_stream(spark, tmp: str) -> None:
    """One tiny AvailableNow stream with the stateful shapes of the stream
    queries (watermark, dropDuplicates, window count, memory sink), read
    back with a ranking window."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    base = os.path.join(tmp, "warmup")
    src = os.path.join(base, "src")
    spark.range(64).selectExpr("id % 4 AS k", "timestamp_seconds(id * 600) AS ts").write.parquet(src)
    (
        spark.readStream.schema("k long, ts timestamp")
        .parquet(src)
        .withWatermark("ts", "1 hour")
        .dropDuplicates(["k", "ts"])
        .groupBy(F.window("ts", "1 hour"), "k")
        .count()
        .writeStream.format("memory")
        .queryName("perfbench_warmup")
        .outputMode("append")
        .option("checkpointLocation", os.path.join(base, "checkpoint"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    rank = Window.partitionBy("k").orderBy(F.desc("count"))
    materialize(spark.table("perfbench_warmup").withColumn("r", F.row_number().over(rank)))
    spark.catalog.dropTempView("perfbench_warmup")
    shutil.rmtree(base)  # disk.tmp_mb counts what the pass leaves


# Tiny jobs of each workload's operator shapes on generated rows, run in
# set-up before the views. They run no engine code, so no engine memo is
# warm; they pay the JVM's class loading and JIT, the Python worker pool
# and the micro-batch machinery, fixed costs that would otherwise land on
# whichever query the seed puts first. The views build that follows
# warms parquet scans, joins and aggregation for both workloads.
WARM_UPS = {
    "ann_curation": (warm_vectors,),
    "streaming": (warm_python_workers, warm_stream),
}


def main(cfg: dict) -> dict:
    sys.path[:0] = [ROOT, HERE]
    import workloads

    legs = LegTimer()
    if cfg["trace"]:
        legs.install()  # before load_all: operator modules bind the name

    from cs686_big_data_p1_spark import registry, views
    from cs686_big_data_p1_spark.session import get_spark

    sf_dir = cfg["fixture"]
    out: dict = {"loadavg_start": os.getloadavg()[0]}

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    out["session.start_s"] = time.perf_counter() - t0

    t0 = time.perf_counter()
    registry.load_all()
    out["registry.load_s"] = time.perf_counter() - t0

    t0 = time.perf_counter()
    for warm in WARM_UPS[cfg["workload"]]:
        warm(spark, cfg["tmp"])
    out["warmup_s"] = time.perf_counter() - t0

    t0 = time.perf_counter()
    for build in (
        views.chunks_df,
        views.replicas_df,
        views.heartbeats_df,
        views.checksums_stored_df,
        views.free_space_df,
        views.nodes_df,
    ):
        materialize(build(spark, sf_dir))
    out["views.build_s"] = time.perf_counter() - t0
    out["setup_s"] = time.time() - cfg["t_spawn"]

    sc = spark.sparkContext
    jobs = JobScanner(sc)
    checker = Checker(cfg["oracle_cache"], cfg["untimed"])
    queries = [
        run_query(spark, name, sf_dir, jobs, legs, checker)
        for name in workloads.order(cfg["workload"], cfg["seed"])
    ]
    open(cfg["untimed"], "w").close()  # the pass is over
    out["check_s"] = checker.seconds
    out["disk.tmp_mb"] = dir_mb(cfg["tmp"])
    out["disk.local_mb"] = dir_mb(cfg["local"])
    out["cores"] = sc.defaultParallelism
    spark.stop()
    out["loadavg_end"] = os.getloadavg()[0]
    out["queries"] = queries
    if cfg["trace"]:
        import metrics

        (log,) = os.listdir(cfg["eventlog"])
        with open(os.path.join(cfg["eventlog"], log)) as f:
            out["events"] = metrics.aggregate_event_log(f, queries)
    return out


def run_query(spark, name, sf_dir, jobs, legs, checker) -> dict:
    """Construct and materialize one query (the timed part), attribute
    its jobs, check its result (if ``checker``) and clear the engine's
    per-query caches."""
    from cs686_big_data_p1_spark import registry

    sc = spark.sparkContext
    q: dict = {"query": name}
    sc.setJobGroup(name, name)
    n_legs = len(legs.calls)
    construct_end = None
    start = time.time()
    df = None
    try:
        w0, t0 = time.time(), time.perf_counter()
        df = registry.QUERIES[name](spark, sf_dir)
        q["construct_s"] = time.perf_counter() - t0
        q["construct_at"] = w0
        construct_end = jobs.scan()
        w0, t0 = time.time(), time.perf_counter()
        materialize(df)
        q["execute_s"] = time.perf_counter() - t0
        q["execute_at"] = w0
        q["latency_s"] = q["construct_s"] + q["execute_s"]
    except Exception:  # noqa: BLE001 — a failed query is counted, not fatal
        q["error"] = traceback.format_exc(limit=3)
    q["epoch"] = [start, time.time()]
    q["job_ids"] = list(jobs.take())
    q["construct_jobs"] = (construct_end or q["job_ids"][0]) - q["job_ids"][0]
    q["jobs_grouped"] = len(sc.statusTracker().getJobIdsForGroup(name))
    q.update(jobs.counts(*q["job_ids"]))
    q["legs"] = legs.calls[n_legs:]
    q["ok"] = "error" not in q
    if q["ok"] and checker is not None:
        sc.setJobGroup("perfbench-check", "correctness check")
        q["ok"] = checker.check(name, df, q)
        jobs.take()  # the check's jobs belong to no query
    q["tracked_caches"] = len(registry.TRACKED_CACHES)
    registry.clear_caches()
    print(f"perfbench: {name} {q.get('latency_s', -1):.2f}s ok={q['ok']}", flush=True)
    return q


class Checker:
    """Compares a query's result with its DuckDB oracle (cached by
    ``oracles.build``) using tools/check_oracle.py's compare. A query
    registered without an oracle must return a non-empty result.

    A check runs right after its query's timing, while the query's
    cached intermediates are still alive, in traced and untraced runs
    alike. The file ``untimed`` exists while it runs; ``run.py`` counts
    no memory sample taken then."""

    def __init__(self, cache_dir: str, untimed: str) -> None:
        sys.path.insert(0, os.path.join(ROOT, "tools"))
        from check_oracle import compare

        self.compare, self.cache_dir, self.untimed = compare, cache_dir, untimed
        self.seconds = 0.0

    def check(self, name: str, df, q: dict) -> bool:
        open(self.untimed, "w").close()
        t0 = time.perf_counter()
        try:
            return self._check(name, df, q)
        finally:
            self.seconds += time.perf_counter() - t0
            os.remove(self.untimed)

    def _check(self, name: str, df, q: dict) -> bool:
        import oracles
        from cs686_big_data_p1_spark import registry

        sql = registry.ORACLES.get(name)
        q["check"] = "rows-only" if sql is None else "oracle"
        try:
            sdf = df.toPandas()
            if sql is None:
                return len(sdf) > 0
            problems = self.compare(name, sdf, oracles.load(self.cache_dir, name, sql))
        except Exception:  # noqa: BLE001 — reported as a failed check
            q["error"] = traceback.format_exc(limit=3)
            return False
        if problems:
            q["error"] = "; ".join(problems)
        return not problems


if __name__ == "__main__":
    with open(sys.argv[1]) as f:
        config = json.load(f)
    result = main(config)
    with open(config["out"], "w") as f:
        json.dump(result, f)
