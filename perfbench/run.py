"""Engine benchmark: runs one workload, checks its outputs, prints its
metrics.

    python3 perfbench/run.py --workload wide_fit --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the repository.  The run

1. pins the host and session settings (CPUs, driver memory, local and
   temporary directories under ``.perfbench_work/``);
2. sets up once: generates the input from the seed, starts the driver
   JVM and a session and runs one trivial job; ``setup_s`` is the time
   from process start to that point;
3. times the first pass on the fresh session (``cold_job_s``) and then
   warm passes for ``--seconds`` seconds;
4. checks the outputs off the clock: DuckDB oracles, the in-process
   BOCPD kernel, and for the stream the final detector state against
   the batch recursion;
5. prints a human-readable summary and, as its last line, one JSON
   object ``{"correct", "attempted", "failed", "metrics"}``.

With ``--trace 0`` the metrics are the end-to-end ones; with
``--trace 1`` alternate warm passes are traced and the metrics are the
per-layer ones (see ``METRICS_PER_LAYER``).
"""

from __future__ import annotations

import argparse
import json
import math
import os
import statistics
import sys
import time
import traceback

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT, os.path.join(ROOT, "scripts")]

import workloads as W  # noqa: E402
from spans import SparkProbe, Tracer  # noqa: E402

MIN_WARM_PASSES = 4
N_BURSTS = 5  # standing backlogs drained per stream run
DRIVER_MEMORY = "2g"  # small enough for a shared 15 GB host
WAIT_LIMIT_S = 60.0  # longest wait for a micro-batch to commit

# name -> (unit, better)
METRICS_END_TO_END = {
    "setup_s": ("s", "lower"),
    "cold_job_s": ("s", "lower"),
    "job_s": ("s", "lower"),
    "peak_rss_mb": ("MB", "lower"),
    "latency_p50_s": ("s", "lower"),
    "latency_tail_s": ("s", "lower"),
    "throughput_rows_per_s": ("rows/s", "higher"),
}

METRICS_PER_LAYER = {
    "functions.python_run_s": ("s", "lower"),
    "functions.python_boot_s": ("s", "lower"),
    "functions.python_init_s": ("s", "lower"),
    "functions.udf_task_skew": ("ratio", "lower"),
    "functions.arrow_bytes": ("bytes", "lower"),
    "functions.kernel_ms_per_series": ("ms", "lower"),
    "functions.kernel_share": ("ratio", "higher"),
    "plans.build_s": ("s", "lower"),
    "plans.action_s": ("s", "lower"),
    "plans.build_jobs": ("count", "lower"),
    "operators.codegen_s": ("s", "lower"),
    "operators.sort_s": ("s", "lower"),
    "operators.agg_s": ("s", "lower"),
    "operators.spill_bytes": ("bytes", "lower"),
    "sources.scan_s": ("s", "lower"),
    "sources.bytes_read": ("bytes", "lower"),
    "session.caches": ("count", "lower"),
    "session.gc_s": ("s", "lower"),
    "datapipe.lsh_candidates": ("count", "lower"),
    "datapipe.lsh_precision": ("ratio", "higher"),
    "spark.shuffle_bytes": ("bytes", "lower"),
    "spark.shuffle_write_s": ("s", "lower"),
    "spark.fetch_wait_s": ("s", "lower"),
    "spark.jobs": ("count", "lower"),
    "spark.tasks": ("count", "lower"),
    "streaming.batch_s": ("s", "lower"),
    "streaming.state_commit_s": ("s", "lower"),
    "streaming.state_rows": ("count", "lower"),
    "streaming.state_mb": ("MB", "lower"),
    "streaming.backlog_files": ("count", "lower"),
    "streaming.rows_per_batch": ("count", "higher"),
    "streaming.generator_lag_s": ("s", "lower"),
    "sources.self_s": ("s", "lower"),
    "plans.self_s": ("s", "lower"),
    "functions.self_s": ("s", "lower"),
    "operators.self_s": ("s", "lower"),
    "datapipe.self_s": ("s", "lower"),
    "streaming.self_s": ("s", "lower"),
    "session.self_s": ("s", "lower"),
    "trace.overhead_s": ("s", "lower"),
}

SPAN_LAYERS = ("plans", "functions", "operators", "datapipe", "streaming", "session")


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs) -> tuple[float, float, int]:
    """The highest percentile with at least ten samples beyond it:
    ``(value, percentile, sample count)``.  With fewer than eleven
    samples that is the median."""
    s = sorted(xs)
    n = len(s)
    if n < 11:
        return median(s), 50.0, n
    i = n - 11
    return s[i], 100.0 * (i + 1) / n, n


def log(*a) -> None:
    print(*a, file=sys.stderr, flush=True)


# ---------------------------------------------------------------------------
# Host and session pinning
# ---------------------------------------------------------------------------


def pin_env(work: str) -> None:
    """Settings the engine reads from the environment, fixed here so a
    run does not depend on the caller's shell."""
    tmp = W.fresh_dir(os.path.join(work, "tmp"))
    local = W.fresh_dir(os.path.join(work, "spark-local"))
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    # Python workers are started by the JVM from the checkout's
    # environment; without this they cannot import the engine
    pp = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + pp if pp else "")
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # progress bars interleave with log lines; metrics go to stdout only
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )
    # the engine's own per-task BLAS default applies, not the caller's
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.pop(var, None)


def shutdown(spark) -> None:
    """Stop the session, end the driver JVM and wait for it and every
    Python worker it started to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits at end of its stdin
            proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.time() + 30
    while descendants() and time.time() < deadline:
        time.sleep(0.1)
    for pid in descendants():
        os.kill(pid, 9)


def descendants() -> list[int]:
    """Live processes below this one, read from ``/proc``."""
    children: dict[int, list[int]] = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
        if fields[0] != "Z":
            children.setdefault(int(fields[1]), []).append(int(pid))
    out, todo = [], [os.getpid()]
    while todo:
        kids = children.get(todo.pop(), [])
        out.extend(kids)
        todo.extend(kids)
    return out


def host_record(spark) -> dict:
    import numpy

    mem_kb = 0
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "ram_gb": round(mem_kb / 2**20, 1),
        "spark": spark.version,
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
        "numpy": numpy.__version__,
        "python": sys.version.split()[0],
        "driver_memory": DRIVER_MEMORY,
        "cpus": os.environ["SPARK_GRAFT_CPUS"],
    }


def peak_rss_mb() -> float:
    """Peak RSS (VmHWM) summed over this process and its descendants:
    the driver JVM and the Python workers it forked."""
    total_kb = 0
    for pid in [os.getpid(), *descendants()]:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


def set_up(name: str, prepare):
    """``prepare()`` the input, start the driver JVM and a session with
    the engine's ``get_spark()`` and run one job.  Returns the session
    and the set-up time, counted from process start so that it includes
    the Python imports and the JVM launch."""
    from time_series_data_anomaly_detection_spark import get_spark

    prepare()
    spark = get_spark(app_name=f"perfbench-{name}")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    return spark, time.perf_counter() - T_START


# ---------------------------------------------------------------------------
# Batch workloads
# ---------------------------------------------------------------------------


class BatchRun:
    def __init__(self, w: W.BatchWorkload, seed: int, seconds: int, traced: bool, work: str):
        self.w, self.seed, self.seconds, self.traced = w, seed, seconds, traced
        self.input_dir = os.path.join(work, "input")
        self.tracer = Tracer(enabled=False)
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []

    def setup(self):
        def prepare():
            W.fresh_dir(self.input_dir)
            self.w.generate(self.seed, self.input_dir)

        self.spark, setup_s = set_up(self.w.name, prepare)
        from time_series_data_anomaly_detection_spark.plans.registry import queries

        self.queries = queries()
        return setup_s

    def run_pass(self, trace_id: str) -> float:
        """One pass over the workload's queries; returns wall seconds."""
        from time_series_data_anomaly_detection_spark.session import release_caches

        spark, tr = self.spark, self.tracer
        tr.trace_id = trace_id
        sc = spark.sparkContext
        t0 = time.perf_counter()
        with tr.span("pass", "bench"):
            for name, layer in self.w.queries:
                self.attempted += 1
                try:
                    if tr.enabled:
                        sc.setJobGroup(f"{trace_id}:{name}:build", name)
                    with tr.span(name, "plans", phase="build"):
                        df = self.queries[name](spark, self.input_dir)
                    if tr.enabled:
                        sc.setJobGroup(f"{trace_id}:{name}:action", name)
                    with tr.span(name, layer, phase="action"):
                        df.write.format("noop").mode("overwrite").save()
                except Exception:
                    self.failed += 1
                    log(f"{name} failed:\n{traceback.format_exc()}")
                with tr.span("release_caches", "session") as sp:
                    n = release_caches()
                    if sp is not None:
                        sp.attrs["caches"] = n
        if tr.enabled:
            sc.setJobGroup("perfbench", "idle")
        return time.perf_counter() - t0

    def measure(self) -> dict:
        setup_s = self.setup()
        cold = self.run_pass("cold")
        self.tracer = Tracer(enabled=False)
        traced_tracer = Tracer(enabled=self.traced)
        probe = SparkProbe(self.spark) if self.traced else None
        plain, traced, counters = [], [], []
        deadline = time.perf_counter() + self.seconds
        i = 0
        while time.perf_counter() < deadline or i < MIN_WARM_PASSES + (1 if self.traced else 0):
            use_trace = self.traced and i % 2 == 1
            self.tracer = traced_tracer if use_trace else Tracer(enabled=False)
            if use_trace:
                probe.mark()
            wall = self.run_pass(f"warm{i}")
            if use_trace:
                traced.append(wall)
                counters.append((f"warm{i}", probe.collect()))
            else:
                plain.append(wall)
            i += 1
        rss = peak_rss_mb()
        self.check()
        out = {
            "setup": setup_s,
            "cold": cold,
            "plain": plain,
            # one operation of a batch workload is one pass
            "latencies": plain,
            "rss": rss,
        }
        if self.traced:
            out["layers"] = self.layer_metrics(traced_tracer, counters, plain, traced, probe)
        return out

    # -- correctness ------------------------------------------------------

    def check(self) -> None:
        import duckdb

        from time_series_data_anomaly_detection_spark.plans import registry
        import check_oracles
        import checks

        oracles = registry.oracle_sql()
        con = duckdb.connect()
        con.execute(f"CREATE VIEW events AS SELECT * FROM '{self.input_dir}/events.parquet'")
        for name, _ in self.w.queries:
            self.attempted += 1
            try:
                got = self.queries[name](self.spark, self.input_dir).toPandas()
                problems = []
                if name in oracles:
                    verdict = check_oracles.compare(name, got, con.execute(oracles[name]).df())
                    if verdict != "OK":
                        problems.append(verdict)
                if name in self.w.kernel_checked:
                    events = con.execute("SELECT * FROM events").df()
                    problems += checks.check_bocpd_rows(
                        got, events, sample_series(events, self.seed, 4)
                    )
                if name not in oracles and name not in self.w.kernel_checked and got.empty:
                    problems.append("no rows")
            except Exception:
                problems = [traceback.format_exc()]
            if problems:
                self.failed += 1
                log(f"check {name} FAILED: " + "; ".join(problems)[:2000])
            else:
                self.notes.append(f"check {name}: ok")

    # -- per-layer --------------------------------------------------------

    def layer_metrics(self, tr: Tracer, counters, plain, traced, probe) -> dict:
        m = {k: 0.0 for k in METRICS_PER_LAYER}
        per_pass: dict[str, list[float]] = {}

        def add(key, value):
            per_pass.setdefault(key, []).append(value)

        for trace_id, c in counters:
            spans = [s for s in tr.spans if s.trace_id == trace_id]
            build = [s for s in spans if s.attrs.get("phase") == "build"]
            action = [s for s in spans if s.attrs.get("phase") == "action"]
            add("plans.build_s", sum(s.end - s.start for s in build))
            add("plans.action_s", sum(s.end - s.start for s in action))
            jobs_b = sum(probe.jobs_in_group(f"{trace_id}:{s.name}:build") for s in build)
            jobs_a = sum(probe.jobs_in_group(f"{trace_id}:{s.name}:action") for s in action)
            add("plans.build_jobs", jobs_b)
            add("spark.jobs", jobs_b + jobs_a)
            add("spark.tasks", c.tasks)
            add("session.caches", sum(s.attrs.get("caches", 0) for s in spans))
            t = c.totals
            for key, src in (
                ("functions.python_run_s", "python_run_s"),
                ("functions.python_boot_s", "python_boot_s"),
                ("functions.python_init_s", "python_init_s"),
                ("functions.arrow_bytes", "arrow_bytes"),
                ("operators.codegen_s", "codegen_s"),
                ("operators.sort_s", "sort_s"),
                ("operators.agg_s", "agg_s"),
                ("operators.spill_bytes", "spill_bytes"),
                ("sources.scan_s", "scan_s"),
                ("sources.bytes_read", "bytes_read"),
                ("session.gc_s", "gc_s"),
                ("spark.shuffle_bytes", "shuffle_bytes"),
                ("spark.shuffle_write_s", "shuffle_write_s"),
                ("spark.fetch_wait_s", "fetch_wait_s"),
            ):
                add(key, t.get(src, 0.0))
            add("functions.udf_task_skew", c.skew)
            self_t = tr.self_times({trace_id})
            for layer in SPAN_LAYERS:
                add(f"{layer}.self_s", self_t.get(layer, 0.0))
        for key, vals in per_pass.items():
            m[key] = median(vals)
        m["trace.overhead_s"] = median(traced) - median(plain)
        spans_s = m["plans.build_s"] + m["plans.action_s"]
        self.notes.append(
            f"traced pass median {median(traced):.3f} s; build + action spans "
            f"{spans_s:.3f} s ({100 * spans_s / median(traced):.1f}% of it)"
        )
        self.probes(m)
        return m

    def probes(self, m: dict) -> None:
        """Single-layer calls made once, after the passes, in traced runs."""
        import duckdb

        tr = Tracer(enabled=True)
        tr.trace_id = "probe"
        if self.w.kernel_checked:
            from time_series_data_anomaly_detection_spark.functions.bocpd import bocpd_series

            events = duckdb.connect().execute(
                f"SELECT * FROM '{self.input_dir}/events.parquet'"
            ).df()
            sample = sample_series(events, self.seed, 8)
            with tr.span("bocpd_series", "functions") as sp:
                for sid in sample:
                    y = events[events["event_type"] == sid].sort_values(["ts", "event_id"])
                    v = y["value"].to_numpy(float)
                    bocpd_series((v - v.mean()) / (v.std() or 1.0))
            ms = 1000.0 * (sp.end - sp.start) / len(sample)
            m["functions.kernel_ms_per_series"] = ms
            run_s = m["functions.python_run_s"]
            if run_s > 0:
                m["functions.kernel_share"] = ms / 1000.0 * self.w.series.n_series / run_s
        if self.w.probe_corpus:
            from gen import corpus_table, write_table
            from time_series_data_anomaly_detection_spark.datapipe.dedup import lsh_recall_stats

            path = f"{self.input_dir}/documents.parquet"
            write_table(corpus_table(self.seed, self.w.probe_corpus), path)
            with tr.span("lsh_recall_stats", "datapipe") as sp:
                row = lsh_recall_stats(self.spark.read.parquet(path)).collect()[0]
            # the benchmark's only call into datapipe
            m["datapipe.self_s"] = sp.end - sp.start
            m["datapipe.lsh_candidates"] = float(row["n_candidates"])
            m["datapipe.lsh_precision"] = float(row["candidate_precision"] or 0.0)
        from time_series_data_anomaly_detection_spark.sources import events_as_series

        with tr.span("events_as_series", "sources") as sp:
            events_as_series(self.spark, self.input_dir).write.format("noop").mode(
                "overwrite"
            ).save()
        m["sources.self_s"] = sp.end - sp.start
        for sp in tr.spans:
            log(f"probe span {sp.layer}.{sp.name}: {sp.end - sp.start:.3f} s")


def sample_series(events, seed: int, k: int) -> list[str]:
    import numpy as np

    ids = sorted(events["event_type"].unique())
    rng = np.random.default_rng([seed, 11])
    return [ids[i] for i in sorted(rng.choice(len(ids), min(k, len(ids)), replace=False))]


# ---------------------------------------------------------------------------
# Streaming workload
# ---------------------------------------------------------------------------


class StreamRun:
    def __init__(self, w: W.StreamWorkload, seed: int, seconds: int, traced: bool, work: str):
        self.w, self.seed, self.seconds, self.traced = w, seed, seconds, traced
        self.work = work
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []
        self.n_open = max(4, math.ceil(seconds / w.interval_s))
        self.n_files = 1 + self.n_open + N_BURSTS * w.burst_files

    def setup(self):
        def prepare():
            self.tables = W.stream_tables(self.seed, self.w, self.n_files)
            self.in_dir = W.fresh_dir(os.path.join(self.work, "stream_in"))
            self.ckpt = {
                q: W.fresh_dir(os.path.join(self.work, f"ckpt_{q}")) for q in ("bocpd", "control")
            }

        self.spark, setup_s = set_up(self.w.name, prepare)
        return setup_s

    def start_queries(self):
        from pyspark.sql import functions as F
        from pyspark.sql.pandas.types import from_arrow_schema

        from gen import EVENTS_SCHEMA
        from time_series_data_anomaly_detection_spark.streaming import (
            streaming_bocpd,
            streaming_control_flags,
        )

        spark = self.spark
        # one source-log file per batch, so the checkpoint maps every
        # file to the batch that consumed it
        spark.conf.set("spark.sql.streaming.fileSource.log.compactInterval", "1000000")
        src = (
            spark.readStream.schema(from_arrow_schema(EVENTS_SCHEMA))
            .parquet(self.in_dir)
            .select(
                F.col("event_type").alias("series_id"),
                F.col("ts").alias("timestamp"),
                "value",
            )
        )
        kw = {"norm_mu": self.w.norm_mu, "norm_sd": self.w.norm_sd}
        streams = {
            "bocpd": streaming_bocpd(src, **kw),
            "control": streaming_control_flags(src, **kw),
        }
        self.q = {
            name: df.writeStream.format("noop")
            .option("checkpointLocation", self.ckpt[name])
            .queryName(f"perfbench_{name}")
            .start()
            for name, df in streams.items()
        }

    def commits(self) -> dict[str, float]:
        """File -> time both detectors had committed it."""
        per_q = [W.committed_files(self.ckpt[n]) for n in self.q]
        return {f: max(c[f] for c in per_q) for f in per_q[0] if all(f in c for c in per_q)}

    def wait_for(self, names: list[str], backlog: list | None = None) -> dict[str, float]:
        deadline = time.time() + WAIT_LIMIT_S
        while True:
            for q in self.q.values():
                if q.exception() is not None:
                    raise RuntimeError(f"stream failed: {q.exception()}")
            done = self.commits()
            if backlog is not None:
                backlog.append(sum(1 for f in self.dropper.published() if f not in done))
            if all(n in done for n in names) or time.time() > deadline:
                return done
            # commit times come from the checkpoint, not from this poll
            time.sleep(0.05)

    def measure(self) -> dict:
        setup_s = self.setup()
        tr = Tracer(enabled=self.traced)
        tr.trace_id = "stream"
        probe = SparkProbe(self.spark) if self.traced else None
        name = [f"part-{i:05d}.parquet" for i in range(self.n_files)]
        self.dropper = W.FileDropper(self.in_dir)
        with tr.span("stream", "bench"):
            # cold: a fresh query's first micro-batch pays Python worker
            # start, state store creation and codegen
            if probe:
                probe.mark()
            self.start_queries()
            t_drop = time.time()
            self.dropper.drop(name[0], self.tables[0], t_drop)
            with tr.span("cold", "streaming"):
                done = self.wait_for([name[0]])
            cold = done.get(name[0], math.inf) - t_drop
            cold_counters = probe.collect() if probe else None
            # open loop at the reference rate
            open_names = name[1 : 1 + self.n_open]
            t0 = time.time() + self.w.interval_s
            backlog: list[int] = []
            with tr.span("open_loop", "streaming"):
                self.dropper.start(
                    list(zip(open_names, self.tables[1 : 1 + self.n_open])), t0, self.w.interval_s
                )
                self.dropper.join(self.seconds + WAIT_LIMIT_S)
                done = self.wait_for(open_names, backlog)
            t_open_end = time.time()
            latencies = [done[n] - self.dropper.due[n] for n in open_names if n in done]
            lag = max(self.dropper.dropped[n] - self.dropper.due[n] for n in open_names)
            # standing backlogs: every file of a burst appears at once
            rates = []
            for k in range(N_BURSTS):
                first = 1 + self.n_open + k * self.w.burst_files
                burst = name[first : first + self.w.burst_files]
                for i, n in enumerate(burst, first):
                    self.dropper.stage(n, self.tables[i])
                t_burst = time.time()
                self.dropper.publish(burst, t_burst)
                with tr.span("burst", "streaming"):
                    done = self.wait_for(burst)
                drain = max(done.get(n, math.inf) for n in burst) - t_burst
                rates.append(self.w.burst_files * self.w.rows_per_file / drain)
            progress = {n: list(q.recentProgress) for n, q in self.q.items()}
            for q in self.q.values():
                q.stop()
        self.attempted += self.n_files
        missing = [n for n in name if n not in done]
        self.failed += len(missing)
        if missing:
            log(f"{len(missing)} files never committed by both detectors")
        # micro-batches that started during the open loop, both detectors
        window = [
            p
            for ps in progress.values()
            for p in ps
            if p["numInputRows"] > 0 and t0 <= iso_seconds(p["timestamp"]) < t_open_end
        ]
        batch_s = [p["durationMs"]["triggerExecution"] / 1000.0 for p in window]
        rss = peak_rss_mb()
        self.check()
        out = {
            "setup": setup_s,
            "cold": cold,
            "plain": batch_s,
            "latencies": latencies,
            "rss": rss,
            "rate": median(rates),
        }
        self.notes.append(
            f"reference rate {self.w.reference_rate:.0f} rows/s, "
            f"{len(open_names)} files over {self.n_open * self.w.interval_s:.1f} s, "
            f"{N_BURSTS} backlogs of {self.w.burst_files} files drained at "
            f"{[round(x) for x in rates]} rows/s"
        )
        if self.traced:
            m = {k: 0.0 for k in METRICS_PER_LAYER}
            m["streaming.batch_s"] = median(batch_s)
            m["streaming.rows_per_batch"] = median([p["numInputRows"] for p in window])
            m["streaming.state_commit_s"] = median(
                [p["stateOperators"][0]["commitTimeMs"] / 1000.0 for p in window if p["stateOperators"]]
            )
            last = [ps[-1] for ps in progress.values() if ps]
            m["streaming.state_rows"] = sum(
                p["stateOperators"][0]["numRowsTotal"] for p in last if p["stateOperators"]
            )
            m["streaming.state_mb"] = sum(
                p["stateOperators"][0]["memoryUsedBytes"] for p in last if p["stateOperators"]
            ) / 1e6
            m["streaming.backlog_files"] = max(backlog, default=0)
            m["streaming.generator_lag_s"] = lag
            c = cold_counters
            m["functions.python_boot_s"] = c.totals.get("python_boot_s", 0.0)
            m["functions.python_init_s"] = c.totals.get("python_init_s", 0.0)
            m["functions.python_run_s"] = c.totals.get("python_run_s", 0.0)
            m["functions.arrow_bytes"] = c.totals.get("arrow_bytes", 0.0)
            m["session.gc_s"] = c.totals.get("gc_s", 0.0)
            m["spark.tasks"] = c.tasks
            self_t = tr.self_times()
            for layer in SPAN_LAYERS:
                m[f"{layer}.self_s"] = self_t.get(layer, 0.0)
            out["layers"] = m
        return out

    def check(self) -> None:
        import duckdb

        import checks

        self.attempted += 1
        try:
            events = duckdb.connect().execute(
                f"SELECT * FROM '{self.in_dir}/part-*.parquet'"
            ).df()
            b = self.read_state("bocpd")
            c = self.read_state("control")
            problems = checks.check_stream_state(
                b, c, events, self.w.norm_mu, self.w.norm_sd,
                sample_series(events, self.seed, 6),
            )
            if len(b) != self.w.n_series or len(c) != self.w.n_series:
                problems.append(f"state rows {len(b)}/{len(c)} != {self.w.n_series} series")
        except Exception:
            problems = [traceback.format_exc()]
        if problems:
            self.failed += 1
            log("check stream state FAILED: " + "; ".join(problems)[:2000])
        else:
            self.notes.append("check stream state: ok")

    def read_state(self, name: str):
        """The final per-series state of one detector, one row per
        series, read with Spark's state data source."""
        return (
            self.spark.read.format("statestore")
            .load(self.ckpt[name])
            .select("key.series_id", "value.groupState.*")
            .toPandas()
        )


def iso_seconds(ts: str) -> float:
    from datetime import datetime, timezone

    return datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=timezone.utc).timestamp()


# ---------------------------------------------------------------------------


def end_to_end(w, r: dict) -> dict:
    job = median(r["plain"])
    lat_tail, pct, n = tail(r["latencies"])
    rate = r["rate"] if "rate" in r else (w.input_rows() / job if job else 0.0)
    return {
        "setup_s": r["setup"],
        "cold_job_s": r["cold"],
        "job_s": job,
        "peak_rss_mb": r["rss"],
        "latency_p50_s": median(r["latencies"]),
        "latency_tail_s": lat_tail,
        "throughput_rows_per_s": rate,
    }, (pct, n)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(W.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    try:
        import time_series_data_anomaly_detection_spark  # noqa: F401
    except ImportError as e:
        log(f"cannot import the engine from {ROOT}: {e}")
        return 1

    w = W.WORKLOADS[args.workload]
    work = W.fresh_dir(os.path.join(ROOT, ".perfbench_work", w.name))
    pin_env(work)
    cls = StreamRun if isinstance(w, W.StreamWorkload) else BatchRun
    run = cls(w, args.seed, args.seconds, bool(args.trace), work)
    try:
        r = run.measure()
    except Exception:
        # the engine failed outside a counted operation: report the run
        # as incorrect rather than crash without a result
        log(traceback.format_exc())
        run.failed, run.attempted = run.failed + 1, run.attempted + 1
        r = {"setup": 0.0, "cold": 0.0, "plain": [], "latencies": [], "rss": 0.0,
             "layers": {k: 0.0 for k in METRICS_PER_LAYER}}
    host = host_record(run.spark) if hasattr(run, "spark") else {}
    if hasattr(run, "spark"):
        shutdown(run.spark)

    e2e, (pct, n) = end_to_end(w, r)
    if not all(math.isfinite(v) for v in e2e.values()):
        run.failed += 1
        e2e = {k: v if math.isfinite(v) else 0.0 for k, v in e2e.items()}
    error_rate = run.failed / max(run.attempted, 1)
    print(f"host {json.dumps(host, sort_keys=True)}")
    print(f"workload {w.name} seed {args.seed} seconds {args.seconds} trace {args.trace}")
    print(
        f"setup {r['setup']:.3f} s; "
        f"warm samples {[round(x, 3) for x in r['plain']]} s; "
        f"latency tail is p{pct:.0f} of {n} samples"
    )
    for note in run.notes:
        print(note)
    for k, v in e2e.items():
        print(f"{k:24s} {v:14.4f} {METRICS_END_TO_END[k][0]}")
    print(f"{'error_rate':24s} {error_rate:14.4f} ratio ({run.failed}/{run.attempted})")
    if args.trace:
        metrics = {k: {"value": float(v), "unit": METRICS_PER_LAYER[k][0]} for k, v in r["layers"].items()}
        for k, v in r["layers"].items():
            print(f"{k:32s} {v:16.4f} {METRICS_PER_LAYER[k][0]}")
    else:
        metrics = {k: {"value": float(v), "unit": METRICS_END_TO_END[k][0]} for k, v in e2e.items()}
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
