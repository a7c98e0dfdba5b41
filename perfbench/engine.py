"""Runs one workload in this process: inputs, set-up, timed passes,
output checks, and the metrics.

A run generates its inputs, sets up a Spark session once (a fresh JVM,
the package import, and an untimed warm-up pass of the workload's own
ops on its own inputs) and then makes whole passes over the workload's
ops, as many as fit in ``seconds`` at the first pass's pace, timing
each op in wall-clock and in CPU time. Each op's output is
recorded between ops, with the clock stopped, and checked after the
passes. A traced run then restarts the session with Spark's event log,
a streaming listener and the UDF profiler on, and repeats the same
number of passes with a job group per op for the per-layer metrics.
"""

from __future__ import annotations

import contextlib
import os
import random
import re
import statistics
import sys
import time
from collections import defaultdict
from dataclasses import dataclass, field

import pyarrow.parquet as pq

import checks
import datagen
import instruments
from workloads import STAGES, Workload, validate

PKG = "airflow_baseball_spark"
CALIB_SF = 0.1  # bench.py's probe table: lineitem at sf0.1, fixed content
DATA_SEED = 0  # registry workloads read the same tables in every run


@dataclass
class Run:
    spec: Workload
    seed: int
    seconds: float
    traced: bool
    root: str  # scratch directory of this run
    cores: int
    trace_path: str
    record: dict = field(default_factory=dict)
    failures: list = field(default_factory=list)
    attempted: int = 0

    def path(self, *parts: str) -> str:
        return os.path.join(self.root, *parts)


# -- session set-up ---------------------------------------------------------


def _purge_package() -> None:
    for name in [m for m in sys.modules if m == PKG or m.startswith(PKG + ".")]:
        del sys.modules[name]


def session_conf(run: Run, traced: bool) -> dict[str, str]:
    conf = {
        "spark.sql.warehouse.dir": run.path("warehouse"),
        "spark.driver.extraJavaOptions": (
            # -XX:-UsePerfData: no hsperfdata file outside the run directory
            f"-Djava.io.tmpdir={run.path('tmp')} -Dderby.system.home={run.path('tmp')} -XX:-UsePerfData"
        ),
    }
    if traced:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": run.path("eventlog"),
                "spark.eventLog.compress": "false",
                "spark.sql.pyspark.udf.profiler": "perf",
            }
        )
    return conf


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def warm_up(spark, ops, entry) -> None:
    """Pay first-use costs (class loading, JIT and codegen, readers and
    writers, Python workers, streaming state) by running one untimed pass
    of the workload's own ops on the run's own inputs, so the timed
    passes start in the state they stay in."""
    spark.range(1).count()
    if isinstance(ops, RegistryOps):
        for stratum, name in ops.order:
            _noop(entry[name](spark, ops.data(stratum)))
    else:
        ops.run_pass(spark, entry, _Replay())


def set_up(run: Run, ops, traced: bool = False):
    """One set-up: session start, package (registry) load and warm-up,
    with the package imported afresh."""
    _purge_package()
    t0 = time.perf_counter()
    from airflow_baseball_spark.session import get_spark

    spark = get_spark(
        app_name=f"perfbench-{run.spec.name}",
        cpus=run.cores,
        extra_conf=session_conf(run, traced),
    )
    t1 = time.perf_counter()
    if run.spec.registry:
        from airflow_baseball_spark import registry

        entry = registry.queries()
    else:
        from airflow_baseball_spark import jobs

        entry = jobs.run_stage
    t2 = time.perf_counter()
    if run.spec.registry:
        validate(entry)
    warm_up(spark, ops, entry)
    t3 = time.perf_counter()
    times = {
        "session.get_spark_s": t1 - t0,
        "registry.load_s": (t2 - t1) if run.spec.registry else 0.0,
        "setup_s": t3 - t0,
    }
    return spark, entry, times


def shutdown() -> None:
    """Stop the session and the JVM PySpark launched, if any, and wait
    for the JVM (and, through it, the Python workers) to exit. Safe to
    call after an error and more than once."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:  # noqa: SLF001
        SparkContext._active_spark_context.stop()  # noqa: SLF001
    gateway = SparkContext._gateway  # noqa: SLF001
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None  # noqa: SLF001
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def calibrate(spark, run: Run) -> float:
    """bench.py's fixed host probe: hash-agg over lineitem."""
    t0 = time.perf_counter()
    _noop(
        spark.read.parquet(run.path("calib", "lineitem.parquet"))
        .groupBy("l_returnflag")
        .agg({"l_quantity": "sum", "l_extendedprice": "avg"})
    )
    return time.perf_counter() - t0


# -- registry workloads (adhoc, iterative) ----------------------------------


class RegistryOps:
    """Builds each frozen query and sinks it to ``noop``; checks the
    output against the DuckDB oracle after the op."""

    def __init__(self, run: Run) -> None:
        self.run = run
        self.order = [(st, n) for st, (_sf, names) in run.spec.strata.items() for n in names]
        random.Random(run.seed).shuffle(self.order)
        self.write_roots = [run.path(d) for d in ("local", "tmp", "stream", "warehouse")]
        self.input_bytes = 0

    def data(self, stratum: str) -> str:
        return self.run.path("data", stratum)

    def prepare(self) -> None:
        run = self.run
        # the tables are the same in every run (DATA_SEED); the run's seed
        # orders the ops, so data-dependent loop counts (BFS depth, LSH
        # candidate counts) cannot move the figures between seeds
        for stratum, (sf, _names) in run.spec.strata.items():
            self.input_bytes += datagen.write_star_tables(self.data(stratum), sf, DATA_SEED)
        self.digests: list[tuple] = []  # (stratum, name, pass, digest)

    def pass_input_bytes(self) -> int:
        return self.input_bytes

    def run_pass(self, spark, entry, ctx: "Pass") -> None:
        for stratum, name in self.order:
            ctx.op(
                name,
                lambda: self._op(spark, entry[name], self.data(stratum), ctx),
                lambda _name, df: self.digests.append(
                    (stratum, name, ctx.pass_no, checks.spark_digest(df))
                ),
            )

    def _op(self, spark, fn, data: str, ctx: "Pass"):
        sc = spark.sparkContext
        with ctx.spans.span("build", ctx.op_id):
            if ctx.traced:
                sc.setJobGroup(f"op{ctx.op_id}:build", ctx.op_name)
            df = fn(spark, data)
        if ctx.traced:
            sc.setJobGroup(f"op{ctx.op_id}:exec", ctx.op_name)
            with ctx.spans.span("plan", ctx.op_id):
                df._jdf.queryExecution().executedPlan()  # noqa: SLF001
        with ctx.spans.span("exec", ctx.op_id):
            _noop(df)
        return df

    def final_checks(self, spark, entry, run: Run) -> None:
        """Compare every op's output digest with its DuckDB oracle. The
        oracles run after the timed passes, when the engine is idle."""
        from airflow_baseball_spark import registry

        sqls = registry.oracle_sql(raw=True)
        for stratum in run.spec.strata:
            oracle = checks.Oracle(self.data(stratum), sqls, run.path("tmp", "duckdb"))
            try:
                for st, name, pass_no, got in self.digests:
                    if st != stratum:
                        continue
                    want = oracle.expected(name)
                    if got != want:
                        run.failures.append(
                            {"op": name, "pass": pass_no, "check": "oracle digest", "got": got, "want": want}
                        )
            finally:
                oracle.close()


# -- nightly ----------------------------------------------------------------


class NightlyOps:
    """One pass = one game day: land the day's batch through
    ``operators.upsert`` and run the ``jobs.run_stage`` chain."""

    # (op, upsert kind, table, keys): season totals keyed on player id,
    # the per-game log partitioned by game_date
    LANDING = (
        ("land.hitters", "merge", "hitters", ["hitter_id"]),
        ("land.hitter_games", "partitioned", "hitter_games", ["hitter_id", "game_date"]),
    )
    # tables the scraper re-lands whole every day, outside the engine
    RELANDED = ("pitchers", "pitcher_games", "game_records")

    def __init__(self, run: Run) -> None:
        self.run = run
        self.root = run.path("store")
        self.batches = run.path("batches")
        self.landed = os.path.join(self.root, "landed")
        self.out = os.path.join(self.root, "out")
        self.write_roots = [self.root, run.path("local")]
        self.day_bytes = 0

    def prepare(self) -> None:
        self.league = datagen.League(self.run.seed, **self.run.spec.league)
        os.makedirs(self.landed)
        pq.write_table(self.league.hitters(), f"{self.landed}/hitters.parquet")
        pq.write_to_dataset(
            self.league.hitter_games(), f"{self.landed}/hitter_games.parquet", partition_cols=["game_date"]
        )
        self._reland()
        self.input_bytes = datagen.dir_bytes(self.landed)

    def _reland(self) -> int:
        """Whole-table landings: splits, today's lineup and RELANDED."""
        lg = self.league
        tables = {**lg.split_tables(), "today_lineup": lg.today_lineup()}
        tables.update({t: getattr(lg, t)() for t in self.RELANDED})
        for name, table in tables.items():
            pq.write_table(table, f"{self.landed}/{name}.parquet")
        return sum(os.path.getsize(f"{self.landed}/{name}.parquet") for name in tables)

    def new_day(self) -> None:
        lg = self.league
        lg.advance()
        self.batch = os.path.join(self.batches, f"day{lg.day}")
        os.makedirs(self.batch)
        for _op, _kind, table, _keys in self.LANDING:
            pq.write_table(getattr(lg, table)(today_only=True), f"{self.batch}/{table}.parquet")
        self.day_bytes = datagen.dir_bytes(self.batch) + self._reland()
        self.input_bytes += self.day_bytes

    def pass_input_bytes(self) -> int:
        return self.day_bytes

    def run_pass(self, spark, entry, ctx: "Pass") -> None:
        self.new_day()
        self.land(spark, ctx)
        for stage in STAGES:

            def run(stage=stage):
                ctx.group(spark)
                entry(spark, stage, self.landed, self.out)

            ctx.op(f"stage.{stage}", run)

    def land(self, spark, ctx) -> None:
        from airflow_baseball_spark.operators.upsert import (
            merge_upsert,
            merge_upsert_partitioned,
        )

        for op, kind, table, keys in self.LANDING:

            def land(table=table, kind=kind, keys=keys):
                ctx.group(spark)
                batch = spark.read.parquet(f"{self.batch}/{table}.parquet")
                target = f"{self.landed}/{table}.parquet"
                if kind == "merge":
                    merge_upsert(spark, batch, target, keys=keys)
                else:
                    merge_upsert_partitioned(spark, batch, target, keys=keys, partition_col="game_date")

            ctx.op(op, land)

    def final_checks(self, spark, entry, run: Run) -> None:
        """The upserted tables hold one row per key with the values the
        league expects, also after the last day's batch is landed a
        second time; the metric tables equal a one-shot recompute,
        through the same pipeline functions, from the final landed
        tables."""
        from airflow_baseball_spark.pipelines.hitter_metrics import (
            hitter_metrics,
            league_runs_from_games,
            park_adjusted_metrics,
        )
        from airflow_baseball_spark.pipelines.park_factor import park_factor
        from airflow_baseball_spark.pipelines.pitcher_metrics import pitcher_metrics

        lg, fail = self.league, run.failures
        read = lambda d, t: spark.read.parquet(f"{d}/{t}")  # noqa: E731
        t = lambda name: read(self.landed, f"{name}.parquet")  # noqa: E731

        def same(op: str, what: str, got_df, want) -> None:
            got = checks.spark_digest(got_df)
            want = want if isinstance(want, str) else checks.spark_digest(want)
            if got != want:
                fail.append({"op": op, "check": what, "got": got, "want": want})

        # land the last day's batch again: a non-idempotent upsert would
        # leave duplicate keys or other values than the league's
        self.land(spark, _Replay())
        for op, _kind, table, _keys in self.LANDING:
            same(op, "landed state after a replay of the day", t(table), checks.arrow_digest(getattr(lg, table)()))

        hm = read(self.out, "hitter_metrics")
        recompute = {
            "stage.park_factor": ("park_factor", park_factor(t("game_records"))),
            "stage.hitter_woba": (
                "hitter_metrics",
                hitter_metrics(t("hitters"), league_runs_from_games(t("game_records"))),
            ),
            "stage.pitcher_metrics": ("pitcher_metrics", pitcher_metrics(t("pitchers"))),
        }
        for op, (table, want) in recompute.items():
            same(op, f"{table} = one-shot recompute", read(self.out, table), want)
        pa_want = park_adjusted_metrics(t("today_lineup"), t("hitters"), hm, read(self.out, "park_factor"))
        pa_got = read(self.out, "park_adjusted_metrics").join(pa_want.select("hitter_id"), "hitter_id", "left_semi")
        same("stage.park_adjusted", "park_adjusted_metrics = one-shot recompute", pa_got, pa_want)


class _Replay:
    """A pass context that runs ops untimed (warm-up and replay check)."""

    def group(self, spark) -> None:
        spark.sparkContext.setJobGroup("untimed", "warm-up or replay")

    def op(self, name, fn, check=None) -> None:
        fn()


# -- the timed loop ---------------------------------------------------------


class Pass:
    """Times ops within passes and records them; checks run between ops
    with the clock and the RSS sampler stopped."""

    def __init__(self, run: Run, spans: instruments.Spans, rss: instruments.RssSampler | None,
                 write_roots: list[str], traced: bool) -> None:
        self.run, self.spans, self.rss, self.traced = run, spans, rss, traced
        self.write_roots = write_roots
        self.ops: list[dict] = []
        self.op_id = 0
        self.op_name = ""
        self.udf_before = 0.0
        self.offered_bytes = 0

    def group(self, spark) -> None:
        """Tag the op's jobs in the event log (traced passes only)."""
        if self.traced:
            spark.sparkContext.setJobGroup(f"op{self.op_id}:exec", self.op_name)

    def op(self, name: str, fn, check=None) -> None:
        self.op_id = self.run.attempted
        self.op_name = name
        before = instruments.snapshot(*self.write_roots)
        rec = {"id": self.op_id, "name": name, "pass": self.pass_no}
        result, error = None, None
        sampling = self.rss.sampling() if self.rss else contextlib.nullcontext()
        cpu0 = instruments.cpu_seconds()
        with sampling, self.spans.span(name, self.op_id) as s:
            t0 = time.perf_counter()
            try:
                result = fn()
            except Exception as exc:  # noqa: BLE001 - a failed op is counted, not fatal
                error = f"{type(exc).__name__}: {str(exc)[:300]}"
            rec["latency_s"] = time.perf_counter() - t0
        rec["cpu_s"] = instruments.cpu_seconds() - cpu0
        rec["start"], rec["end"] = s["start"], s["end"]
        after = instruments.snapshot(*self.write_roots)
        rec["bytes_written"], _ = instruments.written(before, after)
        # stored files only: Spark's local dir holds shuffle and spill files
        local = self.run.path("local")
        rec["stored_bytes"], rec["stored_files"] = instruments.written(
            before, {p: v for p, v in after.items() if not p.startswith(local)}
        )
        if self.traced:
            self.spark.sparkContext.setJobGroup("check", "output check")
            rec["udf_s"] = udf_seconds(self.spark) - self.udf_before
        if error is None and check is not None:
            try:
                error = check(name, result)
            except Exception as exc:  # noqa: BLE001
                error = f"check raised {type(exc).__name__}: {str(exc)[:300]}"
        if self.traced:
            self.udf_before = udf_seconds(self.spark)
        if error is not None:
            rec["error"] = error
            self.run.failures.append({"op": name, "pass": self.pass_no, "error": error})
        self.run.attempted += 1
        self.ops.append(rec)

    def passes(self, spark, entry, workload_ops, n_passes: int | None) -> list[float]:
        """``n_passes`` whole passes; by default as many as fit whole in
        ``seconds`` at the first pass's pace, and at least one."""
        self.spark = spark
        self.udf_before = udf_seconds(spark) if self.traced else 0.0
        walls: list[float] = []
        self.pass_no = 0
        while not walls or len(walls) < n_passes:
            first = len(self.ops)
            with self.spans.span("pass", None, number=self.pass_no):
                workload_ops.run_pass(spark, entry, self)
            walls.append(sum(o["latency_s"] for o in self.ops[first:]))
            self.offered_bytes += workload_ops.pass_input_bytes()
            self.pass_no += 1
            n_passes = n_passes or max(1, int(self.run.seconds // walls[0]))
        return walls


def udf_seconds(spark) -> float:
    """Python UDF time recorded by Spark's built-in perf profiler."""
    results = spark._profiler_collector._perf_profile_results  # noqa: SLF001
    return sum(stats.total_tt for stats in results.values())


def per_pass(ops: list[dict], key: str) -> list[float]:
    """``key`` summed over the ops of each pass."""
    sums = defaultdict(float)
    for o in ops:
        sums[o["pass"]] += o[key]
    return list(sums.values())


def tail(ops: list[dict]) -> float:
    """The slowest op of each pass, median over passes. A run holds too
    few ops (4 or 8 per pass) for a percentile with ten ops beyond it to
    be a tail, so the tail is taken per pass of the mix."""
    worst = defaultdict(float)
    for o in ops:
        worst[o["pass"]] = max(worst[o["pass"]], o["latency_s"])
    return statistics.median(worst.values())


# -- one run ----------------------------------------------------------------


def storage_info(spark) -> tuple[int, float]:
    """(cached RDD partitions, MB) the session still holds."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()  # noqa: SLF001
    blocks = sum(i.numCachedPartitions() for i in infos)
    mb = sum(i.memSize() + i.diskSize() for i in infos) / 2**20
    return blocks, mb


def execute(run: Run) -> dict:
    """Run the workload; returns the end-to-end metrics (and, when
    traced, the per-layer metrics) and fills ``run.record``."""
    for d in ("tmp", "local", "stream", "warehouse", "eventlog"):
        os.makedirs(run.path(d), exist_ok=True)
    phases = {}
    t0 = time.perf_counter()
    ops = RegistryOps(run) if run.spec.registry else NightlyOps(run)
    datagen.write_star_tables(run.path("calib"), CALIB_SF, DATA_SEED, ("lineitem",))
    ops.prepare()
    phases["inputs_s"] = time.perf_counter() - t0
    spans = instruments.Spans()
    peak_mb = None
    with instruments.RssSampler() as rss:
        spark, entry, setup = set_up(run, ops)
        calib = [calibrate(spark, run)]
        timed = Pass(run, spans, None, ops.write_roots, traced=False)
        walls = timed.passes(spark, entry, ops, None)
        calib.append(calibrate(spark, run))
        if run.traced:
            # the same passes again on a session restarted in the same JVM
            # with the instruments on
            spark.stop()
            spark, entry, _ = set_up(run, ops, traced=True)
            listener = instruments.StreamProgress()
            spark.streams.addListener(listener)
            traced = Pass(run, spans, rss, ops.write_roots, traced=True)
            traced_walls = traced.passes(spark, entry, ops, len(walls))
            peak_mb = rss.peak_kb / 1024
            blocks = storage_info(spark)
        space = sum(
            datagen.dir_bytes(run.path(d)) for d in ("data", "store", "tmp", "stream", "warehouse")
        )
        t0 = time.perf_counter()
        ops.final_checks(spark, entry, run)
        phases["final_checks_s"] = time.perf_counter() - t0
        shutdown()
    layers = None
    if run.traced:
        layers = layer_metrics(
            run, traced, traced_walls, statistics.median(walls), setup, calib, listener, blocks,
            instruments.read_event_log(run.path("eventlog")), spans,
        )
    latencies = [o["latency_s"] for o in timed.ops]
    # wall-clock latency and per-op CPU time of the untraced passes:
    # per-layer, not end to end, because from one run to the next they
    # spread wider than any bound allows (see README.md)
    latency = {
        "latency.pass_wall_s": statistics.median(walls),
        "latency.op_p50_s": statistics.median(latencies),
        "latency.op_tail_s": tail(timed.ops),
        "cpu.op_p50_s": statistics.median(o["cpu_s"] for o in timed.ops),
    }
    if run.traced:
        layers["memory.peak_rss_mb"] = peak_mb
        layers.update(latency)
    written = sum(o["stored_bytes"] for o in timed.ops)
    metrics = {
        "setup_s": setup["setup_s"],
        "pass_cpu_s": statistics.median(per_pass(timed.ops, "cpu_s")),
        "write_amp": written / timed.offered_bytes,
        "space_amp": space / ops.input_bytes,
    }
    run.record.update(
        passes=len(walls),
        pass_walls_s=walls,
        latency=latency,
        ops=[
            {k: o[k] for k in ("name", "pass", "latency_s", "cpu_s", "bytes_written", "stored_bytes", "stored_files")}
            for o in timed.ops
        ],
        op_count=len(latencies),
        setup=setup,
        host_calib_s=calib,
        input_bytes=ops.input_bytes,
        peak_rss_mb=peak_mb,
        phases=phases,
        self_s=spans.self_times(),
    )
    spans.dump(run.trace_path)
    return {"end_to_end": metrics, "per_layer": layers}


def layer_metrics(run, traced, traced_walls, untraced_wall, setup, calib, listener,
                  blocks, jobs, spans) -> dict[str, float]:
    """Per-layer metrics of the traced passes, per pass; see README.md
    for the end-to-end metric each should move."""
    ops = {o["id"]: o for o in traced.ops}
    per_pass = 1 / len(traced_walls)
    phase = defaultdict(float)
    build_span = {}
    for r in spans.rows:
        if r["op"] in ops and r["name"] in ("build", "plan"):
            phase[(r["op"], r["name"])] += r["end"] - r["start"]
            if r["name"] == "build":
                build_span[r["op"]] = (r["start"], r["end"])
    # jobs per op: by job group, and by time for streaming drains, whose
    # jobs run on stream threads that job groups do not follow
    op_jobs = defaultdict(list)
    for job in jobs.values():
        m = re.fullmatch(r"op(\d+):(build|exec)", job["group"] or "")
        if m and int(m[1]) in ops:
            op_jobs[int(m[1])].append((m[2], job))
            continue
        for op, (b0, b1) in build_span.items():
            if b0 <= job["submit"] <= b1:
                op_jobs[op].append(("build", job))
                break
    run.record["traced_ops"] = [
        {
            "name": o["name"],
            "latency_s": o["latency_s"],
            "build_jobs": sum(p == "build" for p, _j in op_jobs[i]),
            "jobs": len(op_jobs[i]),
        }
        for i, o in ops.items()
    ]
    all_jobs = [j for js in op_jobs.values() for _p, j in js]
    build_s = sum(v for (_o, k), v in phase.items() if k == "build")
    plan_s = sum(v for (_o, k), v in phase.items() if k == "plan")
    exec_s = sum(o["latency_s"] for o in ops.values()) - build_s - plan_s
    build_job_s = 0.0
    for op, (b0, b1) in build_span.items():
        ivs = sorted((max(j["submit"], b0), min(j["end"], b1)) for p, j in op_jobs[op] if p == "build")
        covered_to = b0
        for a, b in ivs:
            a = max(a, covered_to)
            if b > a:
                build_job_s += b - a
                covered_to = b
    sum_jobs = lambda key, js=all_jobs: sum(j.get(key, 0) for j in js)  # noqa: E731
    exec_jobs = [j for js in op_jobs.values() for p, j in js if p == "exec"]
    mb = 2**20
    drains = [
        d for d in listener.drains()
        if any(o["start"] <= d["start"] <= o["end"] for o in ops.values())
    ]
    drain_s = sum(d["end"] - d["start"] for d in drains)
    by_name = lambda prefix: [o for o in ops.values() if o["name"].startswith(prefix)]  # noqa: E731
    merges = [o for o in by_name("land.") if o["name"] in _MERGE_OPS]
    partitioned = [o for o in by_name("land.") if o["name"] not in _MERGE_OPS]
    stages = by_name("stage.")
    lat = lambda os_: sum(o["latency_s"] for o in os_)  # noqa: E731
    out = {
        "session.get_spark_s": setup["session.get_spark_s"],
        "registry.load_s": setup["registry.load_s"],
        "host.calib_s": statistics.fmean(calib),
        "trace.overhead_s": statistics.median(traced_walls) - untraced_wall,
        "queries.build_s": build_s,
        "queries.build_python_s": build_s - build_job_s,
        "queries.build_jobs": sum(1 for js in op_jobs.values() for p, _j in js if p == "build"),
        "queries.build_job_s": build_job_s,
        "spark.plan_s": plan_s,
        "spark.exec_s": exec_s,
        "spark.jobs": len(all_jobs),
        "spark.stages": sum_jobs("stages"),
        "spark.tasks": sum_jobs("tasks"),
        "spark.input_mb": sum_jobs("input_b") / mb,
        "spark.shuffle_read_mb": sum_jobs("shuffle_read_b") / mb,
        "spark.shuffle_write_mb": sum_jobs("shuffle_write_b") / mb,
        "spark.spill_mb": sum_jobs("spill_b") / mb,
        "spark.gc_s": sum_jobs("gc_s"),
        "spark.python_udf_s": sum(o["udf_s"] for o in ops.values()),
        "streaming.drain_s": drain_s,
        "streaming.batches": sum(d["batches"] for d in drains),
        "streaming.add_batch_s": sum(d["add_batch_s"] for d in drains),
        "streaming.query_planning_s": sum(d["query_planning_s"] for d in drains),
        "streaming.wal_commit_s": sum(d["wal_commit_s"] for d in drains),
        "streaming.startup_s": drain_s - sum(d["trigger_s"] for d in drains),
        "upsert.merge_s": lat(merges),
        "upsert.merge_calls": len(merges),
        "upsert.partitioned_s": lat(partitioned),
        "upsert.bytes_written": sum(o["stored_bytes"] for o in by_name("land.")),
        "upsert.files_written": sum(o["stored_files"] for o in by_name("land.")),
        **{f"jobs.{st}_s": lat(by_name(f"stage.{st}")) for st in STAGES},
        "jobs.bytes_written": sum(o["stored_bytes"] for o in stages),
        "jobs.files_written": sum(o["stored_files"] for o in stages),
    }
    out = {k: v * per_pass for k, v in out.items() if k not in _NOT_PER_PASS} | {
        k: out[k] for k in _NOT_PER_PASS
    }
    out["spark.core_util"] = (
        sum(j.get("run_s", 0) for j in exec_jobs) / (run.cores * exec_s) if exec_s > 0 else 0.0
    )
    out["operators.blocks_end"], out["operators.block_mb_end"] = blocks
    return out


_MERGE_OPS = {op for op, kind, _t, _k in NightlyOps.LANDING if kind == "merge"}
_NOT_PER_PASS = (
    "session.get_spark_s", "registry.load_s", "host.calib_s", "trace.overhead_s",
)
