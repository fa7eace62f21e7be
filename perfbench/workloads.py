"""The benchmark workloads and their metrics.

Every workload runs in one process on ``local[N]``:

1. set up the session three times (start + warm-up; the first start also
   launches the JVM) and keep the last session;
2. run the workload untimed (catalog: each query through its oracle
   check; medallion: the initial load);
3. run timed passes until ``seconds`` have passed and at least
   ``MIN_PASSES`` passes have run (one with ``--smoke``); each starts
   from an empty shard store, and medallion batches build on the
   warehouse of the ones before;
4. check the outputs the passes left (medallion).

End-to-end times are measured against a reference job.  Right after
the set-up the JVM is still compiling, and every Spark job gets about
three times faster over the next two minutes; the host, shared with
other machines, slows all of them by up to half for tens of seconds.
Both move a pass by more than any change worth measuring.  So before
every timed operation, and after every pass, the run times a reference
job (three after a pass): a small Spark aggregation that uses no code
of the package, on a session with Spark's default SQL settings.  Each pass's times are then
scaled by ``REF_STEADY_S`` over the median reference time of that pass,
which states them in seconds of a warm JVM on a quiet host.  Each
operation's latency is its median over the passes, and ``wall_s`` the
median pass.  ``setup_s`` and the per-layer metrics are not scaled.

With tracing on (a separate run), the session used for steps 2-3 is
restarted with an uncompressed event log and every call into the
package runs inside a span; the run then reports per-layer metrics
instead of end-to-end ones.  Tracing overhead is the traced run's
``trace.wall_s`` minus an untraced run's ``wall_s``.
"""

from __future__ import annotations

import contextlib
import os
import random
import shutil
import statistics
import time
from dataclasses import dataclass, field

from pyspark.sql import functions as F

from hospital_data_engineering_pipeline_end_to_end_project_spark import scratch
from hospital_data_engineering_pipeline_end_to_end_project_spark.operators import scd2
from hospital_data_engineering_pipeline_end_to_end_project_spark.plans import (
    medallion,
    registry,
    star,
)
from hospital_data_engineering_pipeline_end_to_end_project_spark.session import get_spark

import hospital
from spans import Tracer, rss_mb
from tests import oracle_harness

#: copies of the repository's read-only TPC-H-like test tables, the ones
#: its oracle tests run on; ``--seed`` permutes the query order
DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
SETUPS = 3
#: rows of the reference job, and its time in a JVM that has run the
#: catalog for minutes on a quiet 4-vCPU host, at local[2]
REF_ROWS = 200_000
REF_STEADY_S = 0.06
#: reference jobs after each pass, on top of the one before each operation
REF_AFTER_PASS = 3
#: untimed reference jobs before the first pass: its own first runs are
#: still compiling it
REF_WARMUP = 10

#: short aggregation, star-join and window queries: mostly driver and
#: scheduling time, so they set the median latency
RELATIONAL = ("q01_pricing_summary", "q04_star_join", "q06_latest_event_per_user")
#: dedup, search and index-served queries: Python/Arrow kernels, shuffle
#: heavy candidate joins and a shard build -> compact -> serve lifecycle,
#: so they set the tail latency
LLM_CURATION = ("q25_minhash_bands", "q111_int8_sdc_topk", "q184_cdc_from_index")
FACT_ENTITY = {
    "fact_admissions": "admissions",
    "fact_billing": "billing",
    "fact_vitals": "vitals",
    "fact_procedures": "procedures",
}
#: the query that builds and serves a ``streaming`` shard store
STREAMING = "q184_"

PER_LAYER = (
    ("session.start_s", "s"), ("session.warmup_s", "s"),
    ("plans.build_s", "s"), ("plans.build_jobs", "count"),
    ("exec.action_s", "s"), ("exec.jobs", "count"), ("exec.stages", "count"),
    ("exec.tasks", "count"), ("exec.failed_tasks", "count"),
    ("exec.overhead_s", "s"), ("exec.task_s", "s"), ("exec.cpu_s", "s"),
    ("exec.gc_s", "s"),
    ("shuffle.write_bytes", "B"), ("shuffle.read_bytes", "B"),
    ("spill.disk_bytes", "B"),
    ("sources.scan_bytes", "B"), ("sources.scan_rows", "count"),
    ("sources.write_bytes", "B"), ("sources.write_files", "count"),
    ("io.jvm_wchar_bytes", "B"),
    ("medallion.silver_s", "s"), ("medallion.silver_jobs", "count"),
    ("star.gold_s", "s"), ("star.refresh_s", "s"),
    ("scd2.validate_s", "s"), ("scd2.state_rows", "count"),
    ("streaming.build_s", "s"), ("streaming.shard_bytes", "B"),
    ("streaming.shard_files", "count"),
    ("load_s", "s"), ("batch_s", "s"), ("write_amp", "ratio"),
    ("failed_frac", "ratio"), ("peak_rss_mb", "MB"),
    ("pass.wall_drift", "ratio"), ("pass.rss_drift_mb", "MB"),
    ("trace.wall_s", "s"), ("trace.bookkeeping_s", "s"),
    ("trace.unlabelled_jobs", "count"), ("ref.job_s", "s"),
)
END_TO_END = (
    ("setup_s", "s"), ("wall_s", "s"), ("query_p50_s", "s"), ("query_p90_s", "s"),
)


@dataclass
class Config:
    workload: str
    seed: int
    seconds: float
    trace: bool
    cores: int
    work: str
    smoke: bool = False


@dataclass
class Outcome:
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)


class Bench:
    """Session lifecycle and the timed-pass loop shared by workloads."""

    def __init__(self, cfg: Config):
        self.cfg = cfg
        self.out = Outcome()
        self.spark = None
        self.setups: list[tuple[float, float]] = []
        #: (pass, operation, seconds) of every timed call, and (pass,
        #: seconds) of every reference job
        self.ops: list[tuple[int, str, float]] = []
        self.refs: list[tuple[int, float]] = []
        self.passes = 0
        self.rss_after_pass: list[float] = []
        self.phases: dict[str, float] = {}
        self.java = ""

    # -- session ---------------------------------------------------------
    def session(self, event_log: bool = False):
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(self.cfg.work, "local"),
        }
        if event_log:
            events = os.path.join(self.cfg.work, "events")
            os.makedirs(events, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + events,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        spark = get_spark(
            app_name=f"perfbench-{self.cfg.workload}",
            master=f"local[{self.cfg.cores}]",
            shuffle_partitions=self.cfg.cores,
            extra_conf=conf,
        )
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    @property
    def jvm_pid(self) -> int:
        return self.spark.sparkContext._gateway.proc.pid

    def setup(self) -> None:
        for _ in range(SETUPS):
            if self.spark is not None:
                self.spark.stop()
            t0 = time.perf_counter()
            self.spark = self.session()
            t1 = time.perf_counter()
            self.warmup()
            self.setups.append((t1 - t0, time.perf_counter() - t1))
        self.java = self.spark.sparkContext._jvm.System.getProperty("java.version")

    def restart_traced(self) -> None:
        self.spark.stop()
        self.spark = self.session(event_log=True)
        self.warmup()

    def release(self) -> None:
        """Drop cached batches and checkpoint blocks between passes."""
        self.spark.catalog.clearCache()
        self.spark.sparkContext._jvm.System.gc()
        shutil.rmtree(scratch._ROOT, ignore_errors=True)

    def reference_session(self):
        """A session on the same context with Spark's default SQL settings,
        so that the package's session settings do not reach the reference
        job."""
        ref = self.spark.newSession()
        for key in list(ref.conf.getAll):
            try:
                ref.conf.unset(key)
            except Exception:  # static and context settings stay as they are
                pass
        ref.conf.set("spark.sql.shuffle.partitions", str(self.cfg.cores))
        return ref

    def reference(self) -> None:
        t0 = time.perf_counter()
        (self.ref.range(0, REF_ROWS, 1, self.cfg.cores)
         .selectExpr("id % 100 AS k").groupBy("k").count()
         .write.format("noop").mode("overwrite").save())
        self.refs.append((self.passes, time.perf_counter() - t0))

    @contextlib.contextmanager
    def op(self, name: str):
        """Time one operation of the current pass, after a reference job."""
        self.reference()
        t0 = time.perf_counter()
        yield
        self.ops.append((self.passes, name, time.perf_counter() - t0))

    def timed(self, tracer: Tracer) -> None:
        self.ref = self.reference_session()
        for _ in range(REF_WARMUP):
            self.reference()
        self.refs.clear()
        t_start = time.perf_counter()
        min_passes = 1 if self.cfg.smoke else self.MIN_PASSES
        while self.passes < min_passes or time.perf_counter() - t_start < self.cfg.seconds:
            # the first job after a release pays for the collection it
            # triggered; keep that out of whichever operation the seed
            # put first
            self.warmup()
            self.one_pass(tracer)
            for _ in range(REF_AFTER_PASS):
                self.reference()
            self.passes += 1
            self.release()
            self.rss_after_pass.append(rss_mb(self.jvm_pid))

    def scales(self) -> list[float]:
        """Per pass: ``REF_STEADY_S`` over the pass's median reference time."""
        return [
            REF_STEADY_S / statistics.median(sec for p, sec in self.refs if p == i)
            for i in range(self.passes)
        ]

    def pass_walls(self, scaled: bool = True) -> list[float]:
        """Per pass: the sum of its operations' times."""
        walls = [0.0] * self.passes
        for i, _, sec in self.ops:
            walls[i] += sec
        if scaled:
            walls = [w * k for w, k in zip(walls, self.scales())]
        return walls

    # -- workload hooks --------------------------------------------------
    #: fewest timed passes, whatever ``seconds`` says
    MIN_PASSES = 1

    def prepare(self) -> None:
        """Write the run's inputs."""
        raise NotImplementedError

    def watch_dirs(self) -> list[str]:
        """Directories whose new files count as the workload's writes."""
        raise NotImplementedError

    def warmup(self) -> None:
        raise NotImplementedError

    def verify(self) -> None:
        """The untimed run before the timed passes, with checks."""
        raise NotImplementedError

    def check(self) -> None:
        """Checks on what the timed passes left behind."""

    def one_pass(self, tracer: Tracer) -> None:
        """Run every operation of one pass, each inside ``op``."""
        raise NotImplementedError

    def layer_metrics(self, tracer: Tracer, passes: int) -> dict[str, float]:
        raise NotImplementedError

    # -- run -------------------------------------------------------------
    def run(self) -> dict:
        clock = time.perf_counter()

        def phase(name: str) -> None:
            nonlocal clock
            now = time.perf_counter()
            self.phases[name] = round(now - clock, 3)
            clock = now

        self.prepare()
        phase("prepare")
        self.setup()
        if self.cfg.trace:
            self.restart_traced()
        phase("setup")
        self.verify()
        self.release()
        phase("verify")
        self.tracer = tracer = Tracer(self.spark, self.cfg.trace, self.watch_dirs(), self.jvm_pid)
        self.timed(tracer)
        phase("timed")
        walls = self.pass_walls()
        self.check()
        phase("check")
        if self.cfg.trace:
            peak = rss_mb(self.jvm_pid, "VmHWM:")
            self.spark.stop()
            tracer.attach(os.path.join(self.cfg.work, "events"))
            self.out.check(
                tracer.mislabelled == 0,
                f"{tracer.mislabelled} jobs labelled with another span's job group",
            )
            phase("event_log")
            metrics = dict.fromkeys((n for n, _ in PER_LAYER), 0.0)
            metrics.update(self.layer_metrics(tracer, self.passes))
            metrics.update({
                "session.start_s": statistics.median(a for a, _ in self.setups),
                "session.warmup_s": statistics.median(b for _, b in self.setups),
                "failed_frac": self.out.failed / self.out.attempted,
                "peak_rss_mb": peak,
                "pass.wall_drift": walls[-1] / walls[0],
                "pass.rss_drift_mb": self.rss_after_pass[-1] - self.rss_after_pass[0],
                "trace.wall_s": statistics.median(walls),
                "trace.bookkeeping_s": tracer.bookkeeping / self.passes,
                "trace.unlabelled_jobs": tracer.unlabelled / self.passes,
                "ref.job_s": statistics.median(sec for _, sec in self.refs),
            })
            units = dict(PER_LAYER)
        else:
            self.spark.stop()
            scales = self.scales()
            scaled = [(name, sec * scales[i]) for i, name, sec in self.ops]
            latencies = [statistics.median(v) for v in by_name(scaled).values()]
            q = statistics.quantiles(latencies, n=10, method="inclusive")
            metrics = {
                "setup_s": statistics.median(a + b for a, b in self.setups),
                "wall_s": statistics.median(walls),
                "query_p50_s": statistics.median(latencies),
                "query_p90_s": q[8],
            }
            units = dict(END_TO_END)
        return {
            "correct": self.out.failed == 0,
            "attempted": self.out.attempted,
            "failed": self.out.failed,
            "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
        }



def by_name(ops) -> dict[str, list[float]]:
    """Each operation's latencies, in pass order, from ``(name, seconds)``
    pairs."""
    out: dict[str, list[float]] = {}
    for name, sec in ops:
        out.setdefault(name, []).append(sec)
    return out


def _exec_metrics(tracer: Tracer, prefix, passes: int) -> dict[str, float]:
    """Per-pass execution counters of the spans named ``prefix*``."""
    t = lambda key: tracer.total(prefix, key) / passes  # noqa: E731
    return {
        "exec.action_s": t("seconds"),
        "exec.jobs": t("jobs"),
        "exec.stages": t("stages"),
        "exec.tasks": t("tasks"),
        "exec.failed_tasks": t("failed_tasks"),
        "exec.overhead_s": t("seconds") - t("critical_s"),
        "exec.task_s": t("task_s"),
        "exec.cpu_s": t("cpu_s"),
        "exec.gc_s": t("gc_s"),
    }


def _io_metrics(tracer: Tracer, prefix, passes: int) -> dict[str, float]:
    """Per-pass shuffle, scan and write counters of the spans named ``prefix*``."""
    t = lambda key: tracer.total(prefix, key) / passes  # noqa: E731
    return {
        "shuffle.write_bytes": t("shuffle_write_bytes"),
        "shuffle.read_bytes": t("shuffle_read_bytes"),
        "spill.disk_bytes": t("spill_disk_bytes"),
        "sources.scan_bytes": t("scan_bytes"),
        "sources.scan_rows": t("scan_rows"),
        "sources.write_bytes": t("new_bytes"),
        "sources.write_files": t("new_files"),
        "io.jvm_wchar_bytes": t("wchar"),
    }


class Catalog(Bench):
    """Registered catalog queries, each run to completion with a noop
    write; the seed permutes the order.  The oracle checks are each
    query's first run."""

    MIN_PASSES = 2

    def __init__(self, cfg: Config, names: tuple[str, ...]):
        super().__init__(cfg)
        self.names = list(names)
        random.Random(cfg.seed).shuffle(self.names)
        self.data = os.path.join(DATA, "sf0.001" if cfg.smoke else "sf0.01")
        self.input_bytes = 0

    def prepare(self) -> None:
        self.input_bytes = sum(
            os.path.getsize(os.path.join(self.data, f)) for f in os.listdir(self.data)
        )
        self.queries = registry.queries()

    def watch_dirs(self) -> list[str]:
        os.makedirs(scratch._ROOT, exist_ok=True)
        return [scratch._ROOT]

    def warmup(self) -> None:
        self.queries["q01_pricing_summary"](self.spark, self.data).collect()

    def verify(self) -> None:
        """Check every query against its oracle."""
        sql = registry.oracle_sql()
        for name in self.names:
            why = None
            try:
                oracle_harness.compare(self.spark, name, self.queries[name], sql[name], self.data)
            except Exception as exc:  # a mismatch or a failing query is a counted failure
                why = f"{type(exc).__name__}: {exc}"
            self.out.check(why is None, f"{name}: {why}")

    def one_pass(self, tracer: Tracer) -> None:
        for name in self.names:
            try:
                with self.op(name):
                    with tracer.span(f"plans.build/{name}"):
                        df = self.queries[name](self.spark, self.data)
                    with tracer.span(f"exec.action/{name}"):
                        df.write.format("noop").mode("overwrite").save()
            except Exception as exc:
                self.out.check(False, f"{name}: {type(exc).__name__}: {exc}")
                continue
            self.out.check(True, name)

    def layer_metrics(self, tracer: Tracer, passes: int) -> dict[str, float]:
        m = _exec_metrics(tracer, "exec.action/", passes)
        m.update(_io_metrics(tracer, ("plans.build/", "exec.action/"), passes))
        m["plans.build_s"] = tracer.total("plans.build/", "seconds") / passes
        m["plans.build_jobs"] = tracer.total("plans.build/", "jobs") / passes
        build, both = f"plans.build/{STREAMING}", (f"plans.build/{STREAMING}", f"exec.action/{STREAMING}")
        m["streaming.build_s"] = tracer.total(build, "seconds") / passes
        m["streaming.shard_bytes"] = tracer.total(both, "new_bytes") / passes
        m["streaming.shard_files"] = tracer.total(both, "new_files") / passes
        m["write_amp"] = m["sources.write_bytes"] / self.input_bytes
        return m


class Medallion(Bench):
    """Raw feeds -> Silver (SCD2) -> Gold, then incremental batches.

    The untimed part loads a fresh warehouse: ``run_silver`` and the full
    ``run_gold``, which compile the read, SCD2 and Gold write paths.  Each
    timed pass is one incremental batch on that warehouse.  The outputs
    are checked after the last batch: every count checked is cumulative,
    so a batch that went wrong shows in it."""

    LOAD_DATE = "2025-12-31"
    SMOKE = dict(n_patients=200, n_doctors=20, n_rows=400)
    FULL = dict(n_patients=2000, n_doctors=100, n_rows=4000)
    #: spans of a timed batch (validation runs after it, untimed)
    PIPELINE = ("medallion.run_silver", "star.")

    def __init__(self, cfg: Config):
        super().__init__(cfg)
        self.size = self.SMOKE if cfg.smoke else self.FULL
        self.wh = os.path.join(cfg.work, "wh")
        self.raw = os.path.join(cfg.work, "raw")
        self.load_s = 0.0
        self.raw_bytes = 0
        self.state_rows = 0

    def prepare(self) -> None:
        warm = hospital.HospitalFeed(self.cfg.seed + 1, 40, 5, 80)
        self.warm_raw = os.path.join(self.cfg.work, "warm_raw")
        warm.write(self.warm_raw)
        self.feed = hospital.HospitalFeed(self.cfg.seed, **self.size)

    def watch_dirs(self) -> list[str]:
        return [self.wh]

    def warmup(self) -> None:
        spec = medallion.ENTITIES["patients"]
        medallion.read_bronze(self.spark, self.warm_raw, spec).count()

    def verify(self) -> None:
        """The load, untimed; each pass checks its own outputs after its
        timed part."""
        self.untimed = Tracer(self.spark, False, [], self.jvm_pid)
        os.makedirs(self.wh)
        self.feed.write(self.raw)
        t0 = time.perf_counter()
        with self.untimed.span("medallion.run_silver"):
            medallion.run_silver(self.spark, self.raw, self.wh, self.LOAD_DATE)
        with self.untimed.span("star.run_gold"):
            star.run_gold(self.spark, self.wh)
        self.load_s = time.perf_counter() - t0

    def one_pass(self, tracer: Tracer) -> None:
        """Rewrite the raw feed with the next batch of seeded changes, then
        run the batch's three steps: ``run_silver``; refresh the fact
        partitions of the months the batch touched, one call per fact;
        rebuild the marts."""
        months = self.feed.batch()
        self.raw_bytes = self.feed.write(self.raw)
        spark, wh = self.spark, self.wh
        date = f"2026-01-{self.passes + 1:02d}"
        with self.op("medallion.run_silver"), tracer.span("medallion.run_silver"):
            medallion.run_silver(spark, self.raw, wh, date)
        with self.op("star.refresh_fact_partitions"):
            for fact in star.FACT_BUILDERS:
                with tracer.span("star.refresh_fact_partitions"):
                    star.refresh_fact_partitions(spark, wh, fact, months)
        with self.op("star.refresh_marts"), tracer.span("star.refresh_marts"):
            star.refresh_marts(spark, wh)

    def check(self) -> None:
        tracer, feed, wh = self.tracer, self.feed, self.wh
        store = medallion.SilverStore(self.spark, wh)
        self.state_rows = 0
        for name, spec in medallion.ENTITIES.items():
            state = store.read(name)
            with tracer.span("scd2.validate"):
                violations = scd2.validate(state, spec.scd2)
            self.out.check(not any(violations.values()), f"{name}: {violations}")
            row = state.agg(
                F.count(F.lit(1)).alias("total"),
                F.count_if(F.col(scd2.CURRENT)).alias("current"),
            ).first()
            exp = feed.expected[name]
            self.out.check(
                (row["current"], row["total"]) == (exp.current, exp.total),
                f"{name}: current/total {(row['current'], row['total'])} "
                f"!= {(exp.current, exp.total)}",
            )
            self.state_rows += row["total"]
        # every fact holds exactly the current Silver rows of its entity
        for fact, entity in FACT_ENTITY.items():
            gold = self.spark.read.parquet(os.path.join(wh, "gold", fact)).count()
            want = feed.expected[entity].current
            self.out.check(gold == want, f"{fact}: {gold} rows != {want} current")

    def layer_metrics(self, tracer: Tracer, passes: int) -> dict[str, float]:
        m = _exec_metrics(tracer, self.PIPELINE, passes)
        m.update(_io_metrics(tracer, self.PIPELINE, passes))
        # the outputs are checked once, after the last batch
        validate = tracer.total("scd2.validate", "seconds")
        m["medallion.silver_s"] = tracer.total("medallion.run_silver", "seconds") / passes
        m["medallion.silver_jobs"] = tracer.total("medallion.run_silver", "jobs") / passes
        # the full Gold build and the load run once, untimed, before the batches
        m["star.gold_s"] = self.untimed.total("star.run_gold", "seconds")
        m["star.refresh_s"] = tracer.total("star.refresh_", "seconds") / passes
        m["scd2.validate_s"] = validate
        m["scd2.state_rows"] = self.state_rows
        m["load_s"] = self.load_s
        m["batch_s"] = statistics.median(self.pass_walls())
        m["write_amp"] = m["sources.write_bytes"] / self.raw_bytes
        return m


def make(cfg: Config) -> Bench:
    if cfg.workload == "catalog":
        return Catalog(cfg, RELATIONAL + LLM_CURATION)
    if cfg.workload == "medallion_incremental":
        return Medallion(cfg)
    raise ValueError(f"unknown workload {cfg.workload!r}")
