"""The repository's benchmark: one SiddhiQL monitoring app at two batch
sizes, the same app as an open-loop stream, and a MinHash dedup pass.

    python3 perfbench/run.py --workload ql_small --seed 1 --seconds 12 --trace 0

Run it from the repository root. It drives the engine only through its
public entry points (``session.build_session``, ``siddhiql.parse_app``,
``run_app``, ``run_app_streaming`` and ``pipeline.dedup``), checks every
output against DuckDB outside the timed region, prints a readable table
and, as its last line, one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` runs the workload once traced (spans
plus Spark's event log), then once untraced, and reports the per-layer
metrics, including the tracing overhead. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time
from contextlib import contextmanager

import numpy as np

import check
import gen
from spans import Tracer, layer_table, parse_event_log

HERE = os.path.dirname(os.path.abspath(__file__))
APP = os.path.join(HERE, "app.siddhi")

SETUP_REPS = 5
DAY_S = 86_400
OOO_SHARE, DISORDER_S = 0.05, 60.0
# ``warm``: untimed executions after the checked one. Planner and
# scheduler code keeps getting faster for the first 10-20 executions, so
# the cheap workloads warm longer before the clock starts.
QL = {
    "ql_small": {"events": 100_000, "users": 1_500, "hot_share": None, "warm": 3},
    "ql_large_skewed": {
        "events": 500_000, "users": 10_000, "hot_share": 0.02, "warm": 1,
    },
}
# ql_stream: open loop, one generator process, a file every ``period`` s.
# The five queries take about 3 s to take in one file, so a 5 s period
# leaves them idle between files: each micro-batch reads one whole file
# and a pane is emitted by the watermark's own batch, not the next file's.
STREAM = {"rate": 200.0, "period": 5.0, "users": 1_500, "speedup": 600.0, "warm_files": 2}
DEDUP = {
    "docs": 600, "dup_share": 0.2, "n_hashes": 32, "band_size": 8, "strong": 30,
    "warm": 2,
}
# A timed unit during which the hypervisor stole more than this share of
# the machine's CPU time measures the host, not the engine: it is not
# counted, and the window runs on (up to STRETCH x --seconds) to replace it.
STEAL_MAX = 0.02
STRETCH = 1.25
INFO_RE = re.compile(r"@info\(\s*name\s*=\s*'([^']+)'")


def tail(values: list[float]) -> tuple[float | None, float | None]:
    """The highest percentile of ``values`` that leaves at least ten
    samples beyond it, as (percentile, value); (None, None) when there
    are fewer than eleven samples."""
    n = len(values)
    if n < 11:
        return None, None
    k = n - 10  # the k-th smallest leaves n - k = 10 samples above it
    return 100.0 * k / n, sorted(values)[k - 1]


def p50(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def vm_hwm_mb(pid: int | str) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the whole machine, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    return (after[0] - before[0]) / max(after[1] - before[1], 1)


class Run:
    """One benchmark invocation: its work directory, Spark session,
    child processes and tracer. ``close`` stops everything it started."""

    def __init__(self, workload: str, seed: int, seconds: float):
        self.workload, self.seed, self.seconds = workload, seed, seconds
        base = os.path.join(os.getcwd(), ".perfbench")
        self.work = os.path.join(base, f"{workload}-{seed}-{os.getpid()}")
        self.traces = os.path.join(base, "traces")
        for d in ("tmp", "local", "eventlog", "in", "out"):
            os.makedirs(os.path.join(self.work, d), exist_ok=True)
        os.makedirs(self.traces, exist_ok=True)
        self.spark = None
        self.tracer = Tracer(False)
        self.groups: list[str] = []
        self.children: list[subprocess.Popen] = []
        self.attempted = self.failed = 0
        self.notes: list[str] = []
        self.rss_parts = (0.0, 0.0)  # peak RSS MB of (this process, the JVM)
        self.steal: list[float] = []  # CPU steal share of each measured window
        self.stolen: list[float] = []  # walls of units not counted for steal

    @contextmanager
    def measuring(self):
        """Record the share of CPU time the hypervisor stole while the
        clock ran: a health check of the host, printed with the figures."""
        before = cpu_ticks()
        yield
        self.steal.append(steal_share(before, cpu_ticks()))

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def start_session(self, traced: bool) -> None:
        from siddhi_operator_spark.session import build_session

        conf = {
            "spark.driver.memory": "3g",
            "spark.local.dir": self.path("local"),
            # a fixed young generation and a 1 GB initial heap: when G1
            # sized them as it went, the peak RSS of identical runs varied
            # by a quarter to a third
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={self.path('tmp')} -XX:-UsePerfData -Xms1g -Xmn384m"
            ),
            "spark.sql.warehouse.dir": self.path("warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # the stream's figures read every batch's progress
            "spark.sql.streaming.numRecentProgressUpdates": "1000",
        }
        if traced:
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                    "spark.eventLog.dir": "file://" + self.path("eventlog"),
                }
            )
        self.spark = build_session(app_name="perfbench", extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.tracer = Tracer(traced)
        self.groups = []

    def stop_session(self) -> None:
        if self.spark is not None:
            for q in self.spark.streams.active:
                q.stop()
            self.spark.stop()
            self.spark = None

    @contextmanager
    def step(self, name: str):
        """A span around one call into the engine; traced runs also tag the
        Spark jobs it launches with a job group named after the span."""
        if self.tracer.enabled:
            group = f"{self.tracer.trace_id}|{name}"
            self.groups.append(group)
            self.spark.sparkContext.setJobGroup(group, name)
        with self.tracer.span(name):
            yield

    def group_counts(self, groups) -> tuple[int, int, int]:
        """(jobs, stages run, tasks run) over ``groups``, from statusTracker."""
        st = self.spark.sparkContext.statusTracker()
        jobs = stages = tasks = 0
        for g in groups:
            for j in st.getJobIdsForGroup(g):
                jobs += 1
                info = st.getJobInfo(j)
                for s in list(info.stageIds) if info else []:
                    si = st.getStageInfo(s)
                    if si is not None and si.numCompletedTasks > 0:
                        stages += 1
                        tasks += si.numCompletedTasks
        return jobs, stages, tasks

    def job_floor_ms(self) -> float:
        """Median wall of a one-row noop write: one job's fixed cost."""
        df = self.spark.range(1)
        times = []
        for _ in range(11):
            t = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            times.append(time.perf_counter() - t)
        return p50(times[1:]) * 1e3

    def scan_ms(self, read) -> float:
        """Median noop read of the input alone."""
        times = []
        for _ in range(3):
            t = time.perf_counter()
            read().write.format("noop").mode("overwrite").save()
            times.append(time.perf_counter() - t)
        return p50(times) * 1e3

    def event_log(self, groups) -> dict[str, float]:
        """Stop the session (which closes the log) and parse it."""
        self.stop_session()
        d = self.path("eventlog")
        lines = []
        for f in sorted(os.listdir(d)):
            with open(os.path.join(d, f)) as fh:
                lines.extend(fh)
        return parse_event_log(lines, groups)

    def peak_rss_mb(self) -> float:
        """Peak RSS of this process plus the JVM its gateway launched."""
        from pyspark import SparkContext

        proc = getattr(SparkContext._gateway, "proc", None)
        self.rss_parts = (vm_hwm_mb("self"), vm_hwm_mb(proc.pid) if proc is not None else 0.0)
        return sum(self.rss_parts)

    def close(self) -> None:
        for p in self.children:
            if p.poll() is None:
                p.kill()
            p.wait()
        try:
            self.stop_session()
        finally:
            from pyspark import SparkContext

            gw = SparkContext._gateway
            proc = getattr(gw, "proc", None)
            if gw is not None:
                gw.shutdown()
            if proc is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            shutil.rmtree(self.work, ignore_errors=True)


def setup(run: Run, traced: bool, stage, reps: int) -> tuple[list[float], dict]:
    """Build the session and stage the inputs ``reps`` times, timing each;
    the last session stays up."""
    times = []
    for i in range(reps):
        run.stop_session()
        t = time.perf_counter()
        run.start_session(traced)
        sources = stage(run.spark)
        times.append(time.perf_counter() - t)
    return times, sources


# ---------------------------------------------------------------- ql batch


def info_names(text: str) -> dict[str, str]:
    """Output stream -> the @info name of the query that feeds it."""
    from siddhi_operator_spark.siddhiql import parse_app

    out = {}
    for q in parse_app(text).queries:
        for a in q.annotations:
            m = INFO_RE.search(a)
            if m:
                out[q.out_stream] = m.group(1)
    return out


def closed_loop(run: Run, checked, unit, n_warm: int):
    """One client, one unit of work at a time. ``checked()`` runs first
    (cold) and writes the outputs the check reads; ``n_warm`` untimed
    units follow; then ``unit(trace_id) -> wall`` repeats until the
    counted units add up to ``--seconds`` (see STEAL_MAX). An exception
    fails its unit and counts against ``failed``. Returns (checked_ok,
    walls, trace ids of the counted units)."""
    checked_ok = True
    run.attempted += 1
    try:
        checked()
        for w in range(n_warm):
            unit(f"warm-{w}")
    except Exception as e:
        run.failed += 1
        checked_ok = False
        run.notes.append(f"checked unit raised {type(e).__name__}: {e}")
    walls, traces, stolen = [], [], []
    start = time.perf_counter()
    i = 0
    with run.measuring():
        while True:
            elapsed = time.perf_counter() - start
            if (walls or stolen) and elapsed >= run.seconds and (
                sum(walls) >= run.seconds or elapsed >= STRETCH * run.seconds
            ):
                break
            run.attempted += 1
            tid = f"unit-{i}"
            before = cpu_ticks()
            try:
                wall = unit(tid)
            except Exception as e:
                run.failed += 1
                run.notes.append(f"{tid} raised {type(e).__name__}: {e}")
                if len(run.notes) > 5:
                    break
            else:
                if steal_share(before, cpu_ticks()) > STEAL_MAX:
                    stolen.append((wall, tid))
                else:
                    walls.append(wall)
                    traces.append(tid)
            i += 1
    if not walls:  # the host stole from every unit: count them all
        walls, traces, stolen = [w for w, _ in stolen], [t for _, t in stolen], []
    run.stolen = [w for w, _ in stolen]
    return checked_ok, walls, traces


def ql_execute(run: Run, text: str, sources: dict, sink, trace_id: str):
    """One app execution: parse, build, then every output to ``sink``.
    Returns its wall time."""
    from siddhi_operator_spark.siddhiql import parse_app, run_app

    t0 = time.perf_counter()
    with run.tracer.trace(trace_id, "execution"):
        with run.step("siddhiql.parse"):
            model = parse_app(text)
        with run.step("siddhiql.build"):
            outs = run_app(model, sources, spark=run.spark)
        for name, df in outs.items():
            with run.step(f"query.{name}"):
                sink(name, df)
    return time.perf_counter() - t0


def ql_batch_phase(run: Run, traced: bool, reps: int) -> dict:
    cfg = QL[run.workload]
    ev_path, vip_path = run.path("in", "events.parquet"), run.path("in", "vip.parquet")
    text = open(APP).read()

    def stage(spark):
        return {
            "Events": spark.read.parquet(ev_path),
            "VipUsers": spark.read.parquet(vip_path),
        }

    setup_s, sources = setup(run, traced, stage, reps)
    names = info_names(text)
    from pyspark.sql import functions as F
    from pyspark.sql import types as T
    from siddhi_operator_spark.fpround import r4

    def to_parquet(name, df):
        cols = [
            r4(f.name).alias(f.name) if isinstance(f.dataType, T.DoubleType) else F.col(f.name)
            for f in df.schema.fields
        ]
        df.select(*cols).write.mode("overwrite").parquet(run.path("out", name))

    def noop(name, df):
        df.write.format("noop").mode("overwrite").save()

    checked_ok, walls, traces = closed_loop(
        run,
        lambda: ql_execute(run, text, sources, to_parquet, "check"),
        lambda tid: ql_execute(run, text, sources, noop, tid),
        cfg["warm"],
    )
    res = {
        "setup": setup_s,
        "walls": walls,
        "wall_p50": p50(walls),
        "rows": cfg["events"],
        "checked_ok": checked_ok,
    }
    if traced:
        groups_of = {t: [g for g in run.groups if g.startswith(t + "|")] for t in traces}
        per_exec = [run.group_counts(groups_of[t]) for t in traces]
        build = [run.group_counts([f"{t}|siddhiql.build"])[0] for t in traces]
        per_query = {
            n: [run.group_counts([f"{t}|query.{n}"])[0] for t in traces] for n in names
        }
        floor = run.job_floor_ms()
        scan = run.scan_ms(lambda: run.spark.read.parquet(ev_path))
        rows_out = query_rows(run, sources, text)
        spans = run.tracer.spans
        measured = [g for t in traces for g in groups_of[t]]
        log = run.event_log(measured)
        run.tracer.spans = spans
        layers = layer_table([s for s in spans if s.trace_id in set(traces)])
        m = {
            "siddhiql.parse_ms": layers["siddhiql.parse"]["self_ms_p50"],
            "siddhiql.build_ms": layers["siddhiql.build"]["self_ms_p50"],
            "siddhiql.build_jobs": p50(build),
            "spark.jobs": p50(j for j, _, _ in per_exec),
            "spark.stages": p50(s for _, s, _ in per_exec),
            "spark.tasks": p50(k for _, _, k in per_exec),
            "spark.job_floor_ms": floor,
            "spark.floor_share": p50(
                pe[0] * floor / 1e3 / w for pe, w in zip(per_exec, walls)
            ),
            "catalog.scan_ms": scan,
        }
        for out, info in names.items():
            m[f"query.{info}.exec_ms"] = layers[f"query.{out}"]["self_ms_p50"]
            m[f"query.{info}.jobs"] = p50(per_query[out])
            m[f"query.{info}.rows_out"] = rows_out[out]
        m.update(per_unit(log, len(traces)))
        res["layers"], res["layer_table"] = m, layers
    return res


def query_rows(run: Run, sources: dict, text: str) -> dict[str, float]:
    """Rows each output produces, counted through an ``Observation`` on
    one extra execution outside the measured ones."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = {}

    def observed(name, df):
        obs[name] = Observation(name)
        df.observe(obs[name], F.count(F.lit(1)).alias("rows")).write.format(
            "noop"
        ).mode("overwrite").save()

    ql_execute(run, text, sources, observed, "rows")
    return {n: float(o.get["rows"]) for n, o in obs.items()}


EVENT_LOG_METRICS = (
    "shuffle.write_bytes", "shuffle.read_bytes", "shuffle.fetch_wait_ms",
    "spill.disk_bytes", "task.run_ms", "task.cpu_ms", "task.gc_ms",
    "python.bytes_sent", "python.bytes_received",
)


def per_unit(log: dict, units: int) -> dict[str, float]:
    """Event-log totals per measured unit of work; the skew ratio as is."""
    out = {k: log.get(k, 0.0) / max(units, 1) for k in EVENT_LOG_METRICS}
    out["task.skew"] = log.get("task.skew", 0.0)
    return out


def ql_check(run: Run) -> bool:
    con = check.connect(run.path("in", "events.parquet"), run.path("in", "vip.parquet"))
    res = check.check_batch_outputs(con, run.path("out"))
    for name, r in res.items():
        if not r["ok"]:
            run.notes.append(f"wrong output {name}: {r}")
    return all(r["ok"] for r in res.values())


def ql_batch(run: Run, trace: bool) -> dict:
    cfg = QL[run.workload]
    t = time.perf_counter()
    table, props = gen.events(
        run.seed, cfg["events"], cfg["users"], cfg["hot_share"], OOO_SHARE,
        30 * DAY_S, DISORDER_S,
    )
    gen.write(table, run.path("in", "events.parquet"))
    gen.write(gen.vip_users(run.seed, cfg["users"]), run.path("in", "vip.parquet"))
    props["generate_s"] = time.perf_counter() - t
    if not trace:
        res = ql_batch_phase(run, False, SETUP_REPS)
        return finish_batch(run, res, props, ql_check)
    # traced first: the untraced phase then runs in a warmer JVM, so the
    # reported overhead is an upper bound
    traced = ql_batch_phase(run, True, 1)
    plain = ql_batch_phase(run, False, 1)
    return finish_batch(run, plain, props, ql_check, traced)


def finish_batch(
    run: Run, res: dict, props: dict, check_outputs, traced: dict | None = None
) -> dict:
    """Run the output check and assemble a batch workload's figures."""
    peak_rss = run.peak_rss_mb()  # before DuckDB runs in this process
    t = time.perf_counter()
    if res["checked_ok"] and not check_outputs(run):
        run.failed += 1
    props["check_s"] = time.perf_counter() - t
    wall = res["wall_p50"]
    return {
        "props": props,
        "setup": res["setup"],
        "e2e": {
            "setup_s": p50(res["setup"]),
            "wall_p50_s": wall,
            # every unit raised: no rate, and ``failed`` says why
            "input_rows_per_s": res["rows"] / wall if wall else 0.0,
            # one client in a closed loop: a unit's latency is its wall
            "latency_p50_ms": wall * 1e3,
            "peak_rss_mb": peak_rss,
        },
        "samples": {"wall_s": res["walls"]},
        "traced": traced,
        "untraced_wall": wall,
    }


# ---------------------------------------------------------------- ql stream


def stream_latency_ids(name: str, pdf, cummax_ts) -> np.ndarray:
    """Per output row, the id of the newest event that produced it. Pane
    rows are produced by the event that moved the watermark past their
    end: the first arrival whose running event-time maximum reaches
    window end + the watermark delay."""
    if name in ("VipPurchases", "RecentErrors"):
        return pdf["event_id"].to_numpy()
    if name == "Recovered":
        return np.maximum(pdf["err_id"].to_numpy(), pdf["buy_id"].to_numpy())
    if name == "TypeTotals":
        return pdf["last_id"].to_numpy()
    end_us = pdf["window_end_us"].to_numpy() + check.WATERMARK_S * 1_000_000
    return np.searchsorted(cummax_ts, end_us, side="left")


def drain(queries: dict) -> None:
    """Process everything written so far. A query that has stopped on an
    error raises here; its exception is read and counted after the run."""
    from pyspark.errors import StreamingQueryException

    for q in queries.values():
        try:
            q.processAllAvailable()
        except StreamingQueryException:
            pass


def ql_stream_phase(run: Run, traced: bool, reps: int, feed: list) -> dict:
    from pyspark.sql import functions as F
    from siddhi_operator_spark.siddhiql import run_app_streaming

    cfg = STREAM
    per_file = feed[0].num_rows
    warm = cfg["warm_files"]
    n_files = len(feed)
    watched = run.path("in", f"watched-{int(traced)}")
    shutil.rmtree(watched, ignore_errors=True)
    os.makedirs(watched)
    vip_path = run.path("in", "vip.parquet")
    schema = "event_id long, ts timestamp, user_id long, event_type string, value double"

    def stage(spark):
        return {
            "Events": spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(watched),
            "VipUsers": spark.read.parquet(vip_path),
        }

    setup_s, sources = setup(run, traced, stage, reps)
    text = open(APP).read()
    names = info_names(text)
    with run.tracer.trace("stream", "stream"):
        with run.step("siddhiql.build"):
            outs = run_app_streaming(
                text, sources, spark=run.spark, watermark=f"{check.WATERMARK_S} seconds"
            )
    seen: dict[str, list] = {n: [] for n in outs}
    sink_ms: list[float] = []

    def sink(name):
        def f(df, batch_id):
            t = time.perf_counter()
            try:
                with run.tracer.trace(f"{name}-{batch_id}", f"sink.{name}"):
                    if "window_end" in df.columns:
                        df = df.select(
                            "*",
                            F.unix_micros("window_start").alias("window_start_us"),
                            F.unix_micros("window_end").alias("window_end_us"),
                        ).drop("window_start", "window_end")
                    tab = df.toArrow()
                    seen[name].append((batch_id, time.time(), tab))
            except Exception as e:
                # the raise stops the query; it is counted as failed below
                run.notes.append(f"sink {name} batch {batch_id}: {type(e).__name__}: {e}")
                raise
            finally:
                sink_ms.append((time.perf_counter() - t) * 1e3)

        return f

    gen.write(feed[0], os.path.join(watched, "part-00000.parquet"))
    queries = {}
    for name, df in outs.items():
        # TypeTotals is a running aggregate with no window: append mode
        # rejects it
        mode = "update" if name == "TypeTotals" else "append"
        queries[name] = (
            df.writeStream.foreachBatch(sink(name))
            .outputMode(mode)
            .option("checkpointLocation", run.path("local", f"ckpt-{int(traced)}-{name}"))
            .queryName(name)
            .start()
        )
    # the generator starts during the warm-up and waits for its t0
    g = subprocess.Popen(
        [
            sys.executable, os.path.join(HERE, "gen.py"), "--out", watched,
            "--seed", str(run.seed), "--rate", str(cfg["rate"]),
            "--period", str(cfg["period"]), "--files", str(n_files),
            "--first-file", str(warm), "--users", str(cfg["users"]),
            "--ooo", str(OOO_SHARE), "--disorder", str(DISORDER_S),
            "--speedup", str(cfg["speedup"]),
        ],
        stdin=subprocess.PIPE,
        stdout=subprocess.PIPE,
        text=True,
    )
    run.children.append(g)
    for j in range(warm):
        if j:
            gen.write(feed[j], os.path.join(watched, f"part-{j:05d}.parquet"))
        drain(queries)
    warm_batches = {n: len(q.recentProgress) for n, q in queries.items()}
    if g.stdout.readline().strip() != "ready":
        raise RuntimeError("the stream generator did not start")
    t_start = time.time() + 0.05
    t0 = t_start - warm * cfg["period"]
    g.stdin.write(f"{t0!r}\n")
    g.stdin.flush()
    lag = []  # (seconds into the feed, events written but not yet processed)
    with run.measuring():
        while g.poll() is None:
            time.sleep(0.5)
            written = sum(1 for f in os.listdir(watched) if f.startswith("part-")) * per_file
            processed = min(
                sum(p["numInputRows"] for p in q.recentProgress) for q in queries.values()
            )
            lag.append((time.time() - t_start, written - processed))
        gen_out = json.loads(g.communicate()[0])
        drain(queries)
        t_end = time.time()
    for q in queries.values():
        idle_by = time.time() + 30
        while q.status["isTriggerActive"] and time.time() < idle_by:
            time.sleep(0.05)
        q.stop()
    progress = {n: q.recentProgress for n, q in queries.items()}
    errors = [f"{n}: {q.exception()}" for n, q in queries.items() if q.exception()]

    # latency: per output row, event due -> sink saw it
    ts = np.concatenate(
        [f.column("ts").cast("int64").to_numpy() for f in feed]
    )
    cummax = np.maximum.accumulate(ts)
    lat_ms: dict[str, list[float]] = {}
    for name, batches in seen.items():
        lat_ms[name] = []
        for _, t_seen, tab in batches:
            if tab.num_rows == 0:
                continue
            ids = stream_latency_ids(name, tab.to_pandas(), cummax)
            j = np.minimum(ids, len(cummax) - 1) // per_file
            lat_ms[name].extend(
                ((t_seen - (t0 + j[j >= warm] * cfg["period"])) * 1e3).tolist()
            )
    measured = {
        n: [p for p in progress[n][warm_batches[n]:] if p["numInputRows"] > 0]
        for n in progress
    }
    triggers = {
        n: [p["durationMs"]["triggerExecution"] / 1e3 for p in ps] for n, ps in measured.items()
    }
    # a unit is one file through every output: from the file being due
    # until the last output's sink has the micro-batch that read it (one
    # file per micro-batch, so the k-th measured batch reads file warm + k)
    sink_at = {n: {b: t for b, t, _ in seen[n]} for n in seen}
    due = [t0 + j * cfg["period"] for j in range(warm, n_files)]
    done = []  # per measured file, when its last output had it
    for k in range(len(due)):
        ends = [
            sink_at[n].get(ps[k]["batchId"]) if k < len(ps) else None
            for n, ps in measured.items()
        ]
        done.append(float("inf") if None in ends else max(ends))
    walls = [d - t for d, t in zip(done, due) if d != float("inf")]
    # events due but not yet through every output when the next file fell due
    backlog = [
        per_file * sum(d > t_next for d in done[: k + 1]) for k, t_next in enumerate(due[1:])
    ]
    events = (n_files - warm) * per_file
    res = {
        "setup": setup_s,
        "walls": walls,
        "wall_p50": p50(walls),
        "triggers": triggers,
        "latencies_ms": lat_ms,
        "rows_per_s": events / (t_end - t_start),
        "errors": errors,
        "seen": seen,
        "progress": progress,
        "lag": lag,
        "backlog": backlog,
        "watched": watched,
        "batches": sum(len(b) for b in seen.values()),
    }
    if traced:
        floor = run.job_floor_ms()
        scan = run.scan_ms(lambda: run.spark.read.schema(schema).parquet(watched))
        per_query = {}
        for n, q in queries.items():
            jobs, stages, tasks = run.group_counts([str(q.runId)])
            nb = max(len(progress[n]), 1)
            per_query[n] = {
                "exec_ms": p50(triggers[n]) * 1e3,
                "jobs": jobs / nb, "stages": stages / nb, "tasks": tasks / nb,
                "rows_out": p50(
                    tab.num_rows for b, _, tab in seen[n] if tab.num_rows > 0
                ),
            }
        build_jobs = run.group_counts(["stream|siddhiql.build"])[0]
        groups = [str(q.runId) for q in queries.values()]
        spans = run.tracer.spans
        log = run.event_log(groups)
        run.tracer.spans = spans
        layers = layer_table(spans)
        nb = sum(len(progress[n]) for n in progress)
        jobs_per_batch = sum(pq["jobs"] for pq in per_query.values()) / len(per_query)
        dur = [p["durationMs"] for ps in measured.values() for p in ps]
        ops = [o for ps in measured.values() for p in ps for o in p.get("stateOperators", [])]
        last_ops = [o for n in progress for o in progress[n][-1].get("stateOperators", [])]
        all_ops = [o for n in progress for p in progress[n] for o in p.get("stateOperators", [])]
        # the slope is fitted over the second half of the feed, so the ramp
        # up from an empty backlog does not count as growth
        late = lag[len(lag) // 2:]
        lag_t = np.array([t for t, _ in late])
        lag_v = np.array([v for _, v in late], dtype=float)
        m = {
            "siddhiql.parse_ms": 0.0,
            "siddhiql.build_ms": layers["siddhiql.build"]["self_ms_p50"],
            "siddhiql.build_jobs": float(build_jobs),
            "spark.jobs": jobs_per_batch,
            "spark.stages": sum(pq["stages"] for pq in per_query.values()) / len(per_query),
            "spark.tasks": sum(pq["tasks"] for pq in per_query.values()) / len(per_query),
            "spark.job_floor_ms": floor,
            "spark.floor_share": jobs_per_batch * floor / 1e3
            / max(p50(t for ts in triggers.values() for t in ts), 1e-9),
            "catalog.scan_ms": scan,
            "streaming.batches": float(nb),
            "streaming.trigger_ms_p50": p50(d["triggerExecution"] for d in dur),
            "streaming.add_batch_ms_p50": p50(d.get("addBatch", 0) for d in dur),
            "streaming.planning_ms_p50": p50(d.get("queryPlanning", 0) for d in dur),
            "streaming.wal_commit_ms_p50": p50(d.get("walCommit", 0) for d in dur),
            "streaming.offset_lag_events": float(max(backlog, default=0)),
            "streaming.offset_lag_slope": (
                float(np.polyfit(lag_t, lag_v, 1)[0]) if len(lag_v) > 2 else 0.0
            ),
            "state.commit_ms_p50": p50(o.get("commitTimeMs", 0) for o in ops),
            "state.rows_total": float(sum(o.get("numRowsTotal", 0) for o in last_ops)),
            "state.memory_bytes": float(sum(o.get("memoryUsedBytes", 0) for o in last_ops)),
            "state.rows_dropped_late": float(
                sum(o.get("numRowsDroppedByWatermark", 0) for o in all_ops)
            ),
            "sink.batch_ms_p50": p50(sink_ms),
            "gen.late_ms_p99": float(np.percentile(gen_out["late_ms"], 99)),
        }
        for out, info in names.items():
            for k in ("exec_ms", "jobs", "rows_out"):
                m[f"query.{info}.{k}"] = float(per_query[out][k])
        m.update(per_unit(log, nb))
        res["layers"], res["layer_table"] = m, layers
    return res


def stream_check(run: Run, res: dict) -> int:
    """Wrong outputs of the stream against DuckDB's batch twin; returns
    how many outputs are wrong."""
    import pyarrow as pa

    con = check.connect(f"{res['watched']}/part-*.parquet", run.path("in", "vip.parquet"))
    missing = [name for name, batches in res["seen"].items() if not batches]
    if missing:  # a query that never reached its sink has nothing to check
        run.notes.append(f"no output from {missing}")
        return len(missing)
    for name, batches in res["seen"].items():
        tabs = [
            tab.append_column("batch", pa.array([b] * tab.num_rows, pa.int64()))
            for b, _, tab in batches
        ]
        con.register(f"got_{name}", pa.concat_tables(tabs))
    wm = res["progress"]["ErrorCounts"][-1].get("eventTime", {}).get("watermark")
    wm_us = con.execute(f"SELECT epoch_us(TIMESTAMPTZ '{wm}')").fetchone()[0] if wm else 0
    r4 = check.r4
    cases = {
        "VipPurchases": (
            f"SELECT event_id, user_id, {r4('value')} AS value, tier FROM got_VipPurchases",
            check.BATCH_ORACLE["VipPurchases"],
        ),
        "RecentErrors": (
            "SELECT event_id, ts, user_id FROM got_RecentErrors",
            check.BATCH_ORACLE["RecentErrors"],
        ),
        "Recovered": (
            "SELECT user_id, err_id, buy_id FROM got_Recovered",
            check.BATCH_ORACLE["Recovered"],
        ),
        "TypeTotals": (
            f"""SELECT event_type, n, {r4('total')} AS total, last_id FROM got_TypeTotals
                QUALIFY row_number() OVER (PARTITION BY event_type ORDER BY batch DESC) = 1""",
            check.BATCH_ORACLE["TypeTotals"],
        ),
        "ErrorCounts": (
            """SELECT make_timestamp(window_start_us) AS window_start,
                      make_timestamp(window_end_us) AS window_end, user_id, n, last_id
               FROM got_ErrorCounts""",
            check.stream_panes_oracle(wm_us),
        ),
    }
    wrong = 0
    for name, (g, w) in cases.items():
        r = check.compare(con, g, w)
        if not r["ok"]:
            wrong += 1
            run.notes.append(f"wrong output {name}: {r}")
    return wrong


def ql_stream(run: Run, trace: bool) -> dict:
    cfg = STREAM
    # at least three measured files, so that a traced run's halves have a
    # median and a backlog trend too
    n_files = cfg["warm_files"] + max(3, int(round(run.seconds / cfg["period"])))
    feed = gen.stream_files(
        run.seed, cfg["rate"], cfg["period"], n_files, cfg["users"], OOO_SHARE,
        DISORDER_S, cfg["speedup"],
    )
    gen.write(gen.vip_users(run.seed, cfg["users"]), run.path("in", "vip.parquet"))
    import pyarrow as pa

    all_events = pa.concat_tables(feed)
    counts = np.bincount(all_events.column("user_id").to_numpy())
    ts = all_events.column("ts").cast("int64").to_numpy()
    props = {
        "events": all_events.num_rows,
        "rate_events_per_s": cfg["rate"],
        "hot_key_share": float(counts.max() / all_events.num_rows),
        "out_of_order_share": float(np.mean(ts[1:] < np.maximum.accumulate(ts)[:-1])),
    }
    phases = [ql_stream_phase(run, True, 1, feed)] if trace else []
    phases.append(ql_stream_phase(run, False, 1 if trace else SETUP_REPS, feed))
    res = phases[-1]
    for ph in phases:
        run.attempted += ph["batches"] + len(ph["seen"])
        run.failed += len(ph["errors"])
        run.notes.extend(ph["errors"])
    peak_rss = run.peak_rss_mb()  # before DuckDB runs in this process
    run.failed += stream_check(run, res)
    wall = res["wall_p50"]
    samples = {"wall_s": res["walls"]}
    samples.update({f"trigger_s {n}": v for n, v in res["triggers"].items()})
    samples.update({f"latency_ms {n}": v for n, v in res["latencies_ms"].items()})
    return {
        "props": props,
        "setup": res["setup"],
        "e2e": {
            "setup_s": p50(res["setup"]),
            "wall_p50_s": wall,
            "input_rows_per_s": res["rows_per_s"],
            "latency_p50_ms": p50(x for v in res["latencies_ms"].values() for x in v),
            "peak_rss_mb": peak_rss,
        },
        "samples": samples,
        "traced": phases[0] if trace else None,
        "untraced_wall": wall,
        "lag": res["lag"],
        "backlog": res["backlog"],
    }


# ---------------------------------------------------------------- dedup


def dedup_phase(run: Run, traced: bool, reps: int) -> dict:
    from pyspark.sql import functions as F
    from siddhi_operator_spark.pipeline import dedup as D

    cfg = DEDUP
    docs_path = run.path("in", "documents.parquet")
    setup_s, docs = setup(run, traced, lambda s: s.read.parquet(docs_path), reps)
    sig_cols = ["doc_id"] + [f"sig_{i}" for i in range(cfg["n_hashes"])]

    def one_pass(trace_id: str):
        t0 = time.perf_counter()
        with run.tracer.trace(trace_id, "dedup_pass"):
            with run.step("pipeline.signature"):
                sigs = (
                    D.minhash_signature(docs, n_hashes=cfg["n_hashes"], impl="arrow")
                    .select(*sig_cols)
                    .localCheckpoint(eager=True)
                )
            with run.step("pipeline.candidates"):
                pairs = D.lsh_candidate_pairs(
                    sigs, n_hashes=cfg["n_hashes"], band_size=cfg["band_size"]
                ).localCheckpoint(eager=True)
            with run.step("pipeline.components"):
                strong = pairs.filter(F.col("n_sig_match") >= cfg["strong"])
                D.connected_components(strong).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0, pairs

    def checked():
        _, pairs = one_pass("check")
        pairs.select("id_a", "id_b", "n_sig_match").write.mode("overwrite").parquet(
            run.path("out", "pairs")
        )
        run.spark.catalog.clearCache()

    n_pairs, n_useful = [], []

    def unit(tid):
        wall, pairs = one_pass(tid)
        if traced:  # counted after the clock stopped
            n_pairs.append(pairs.count())
            n_useful.append(pairs.filter(F.col("n_sig_match") >= cfg["strong"]).count())
        run.spark.catalog.clearCache()
        return wall

    checked_ok, walls, traces = closed_loop(run, checked, unit, cfg["warm"])
    res = {"setup": setup_s, "walls": walls, "wall_p50": p50(walls),
           "rows": cfg["docs"], "checked_ok": checked_ok}
    if traced:
        groups_of = {t: [g for g in run.groups if g.startswith(t + "|")] for t in traces}
        per_pass = [run.group_counts(groups_of[t]) for t in traces]
        floor = run.job_floor_ms()
        scan = run.scan_ms(lambda: run.spark.read.parquet(docs_path))
        spans = run.tracer.spans
        log = run.event_log([g for t in traces for g in groups_of[t]])
        run.tracer.spans = spans
        layers = layer_table([s for s in spans if s.trace_id in set(traces)])
        m = {
            "spark.jobs": p50(j for j, _, _ in per_pass),
            "spark.stages": p50(s for _, s, _ in per_pass),
            "spark.tasks": p50(k for _, _, k in per_pass),
            "spark.job_floor_ms": floor,
            "spark.floor_share": p50(pp[0] * floor / 1e3 / w for pp, w in zip(per_pass, walls)),
            "catalog.scan_ms": scan,
            "pipeline.signature_ms": layers["pipeline.signature"]["self_ms_p50"],
            "pipeline.candidates_ms": layers["pipeline.candidates"]["self_ms_p50"],
            "pipeline.components_ms": layers["pipeline.components"]["self_ms_p50"],
            "pipeline.candidate_pairs": p50(n_pairs),
            "pipeline.useful_pair_ratio": p50(
                u / n for u, n in zip(n_useful, n_pairs) if n
            ),
        }
        m.update(per_unit(log, len(traces)))
        res["layers"], res["layer_table"] = m, layers
    return res


def dedup_check(run: Run) -> bool:
    from siddhi_operator_spark.suite.pipeline import BAND_SIZE, MINHASH_ORACLE, N_HASHES

    assert (N_HASHES, BAND_SIZE) == (DEDUP["n_hashes"], DEDUP["band_size"])
    con = check.connect(docs=run.path("in", "documents.parquet"))
    r = check.compare(
        con,
        check.parquet(run.path("out", "pairs")),
        f"SELECT id_a, id_b, n_sig_match FROM ({MINHASH_ORACLE})",
    )
    if not r["ok"]:
        run.notes.append(f"wrong output candidate pairs: {r}")
    return r["ok"]


def dedup_docs(run: Run, trace: bool) -> dict:
    cfg = DEDUP
    table, props = gen.documents(run.seed, cfg["docs"], cfg["dup_share"])
    gen.write(table, run.path("in", "documents.parquet"))
    traced = dedup_phase(run, True, 1) if trace else None
    plain = dedup_phase(run, False, 1 if trace else SETUP_REPS)
    return finish_batch(run, plain, props, dedup_check, traced)


# ---------------------------------------------------------------- output

WORKLOADS = {
    "ql_small": ql_batch,
    "ql_large_skewed": ql_batch,
    "ql_stream": ql_stream,
    "dedup_docs": dedup_docs,
}


def units(kind: str) -> dict[str, str]:
    """Metric name -> unit for ``kind`` (``end_to_end`` or ``per_layer``),
    as BENCHMARK.json declares them."""
    with open("BENCHMARK.json") as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def report(run: Run, out: dict, trace: bool) -> dict:
    """Print the readable table and build the final JSON object."""
    e2e = out["e2e"]
    print(f"# perfbench {run.workload} seed={run.seed} seconds={run.seconds} trace={int(trace)}")
    print(f"inputs: {json.dumps(out['props'])}")
    print(f"setup_s each: {[round(x, 3) for x in out['setup']]}")
    for key, vals in out["samples"].items():
        pct, v = tail(vals)
        t = f"p{pct:.1f}={v:.4f}" if pct is not None else f"unresolved (n={len(vals)} < 11)"
        print(f"{key}: n={len(vals)} p50={p50(vals):.4f} tail {t}")
        if len(vals) <= 40:
            print("  in order: " + " ".join(f"{v:.3f}" for v in vals))
    if "lag" in out:
        print("offset lag (s, events): " + " ".join(f"{t:.1f}:{v}" for t, v in out["lag"]))
        print(f"backlog when each next file fell due (events): {out['backlog']}")
    print("peak RSS: python {:.1f} MB, JVM {:.1f} MB".format(*run.rss_parts))
    print("CPU steal while measuring: " + " ".join(f"{x:.1%}" for x in run.steal))
    if run.stolen:
        print(
            f"units not counted for CPU steal above {STEAL_MAX:.0%}: "
            + " ".join(f"{w:.3f}" for w in run.stolen)
        )
    ratio = run.failed / max(run.attempted, 1)
    print(f"failed_ratio: {ratio:.4f} ({run.failed}/{run.attempted})")
    for note in run.notes:
        print(f"note: {note}")
    e2e_units = units("end_to_end")
    for k, unit in e2e_units.items():
        print(f"{k:>20} {e2e[k]:14.4f} {unit}")
    if trace:
        t = out["traced"]
        layer_units = units("per_layer")
        layers = dict.fromkeys(layer_units, 0.0)
        layers.update(t["layers"])
        layers["trace.untraced_wall_p50_s"] = out["untraced_wall"]
        layers["trace.traced_wall_p50_s"] = t["wall_p50"]
        layers["trace.overhead_share"] = (
            layers["trace.traced_wall_p50_s"] / out["untraced_wall"] - 1.0
        )
        print("span self times (traced run, median per unit):")
        for name, row in t["layer_table"].items():
            print(
                f"  {name:<40} n={row['count']:<5} self {row['self_ms_p50']:10.2f} ms"
                f"  total {row['total_ms_p50']:10.2f} ms"
            )
        for k, v in layers.items():
            print(f"{k:>44} {v:16.4f} {layer_units[k]}")
        metrics = {k: {"value": float(v), "unit": layer_units[k]} for k, v in layers.items()}
    else:
        metrics = {k: {"value": float(e2e[k]), "unit": u} for k, u in e2e_units.items()}
    return {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args(argv)
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "siddhi_operator_spark")):
        print("perfbench: run from the repository root (siddhi_operator_spark/ "
              "not found)", file=sys.stderr)
        return 2
    # Python workers inherit PYTHONPATH, not this process's sys.path
    sys.path.insert(0, root)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        x for x in (root, os.environ.get("PYTHONPATH")) if x
    )
    # a traced run measures twice, traced then untraced, half the time each
    run = Run(a.workload, a.seed, a.seconds / 2 if a.trace else a.seconds)
    os.environ["TMPDIR"] = run.path("tmp")
    os.environ["SPARK_LOCAL_DIRS"] = run.path("local")  # it overrides spark.local.dir
    # spark-submit's launcher JVM would otherwise write /tmp/hsperfdata_*
    os.environ["SPARK_LAUNCHER_OPTS"] = " ".join(
        x for x in (os.environ.get("SPARK_LAUNCHER_OPTS"), "-XX:-UsePerfData") if x
    )
    try:
        out = WORKLOADS[a.workload](run, bool(a.trace))
        if a.trace:
            run.tracer.write(
                os.path.join(run.traces, f"{a.workload}-{a.seed}.spans.jsonl")
            )
        result = report(run, out, bool(a.trace))
    finally:
        run.close()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
