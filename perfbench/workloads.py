"""The three workloads, timed end to end and traced layer by layer.

Every workload runs in one process against one SparkSession from
``network_iq_spark.session.get_spark`` and in one thread, so requests never
overlap (a closed loop of one client). Set-up (session start, ingest or
load, model training, warm-up) is timed as ``setup_s``; input generation
and the oracle checks are not timed.
"""

from __future__ import annotations

import json
import os
import platform
import statistics
import subprocess
import time
import traceback
from collections import defaultdict
from collections.abc import Callable

import pandas as pd

from perfbench import gen, oracle
from perfbench.spans import EVENT_LOG_CONF, MB, GroupMetrics, Tracer, layer_self_times
from perfbench.spans import metrics_by_group, read_event_log, self_times

clock = time.perf_counter

# ---------------------------------------------------------------------------
# Workload definitions
# ---------------------------------------------------------------------------

# dashboard: cells x days of hourly history in the date=/cell_id= layout,
# then one append of the next hour before every cycle of panel requests
DASH_CELLS = 6
DASH_HISTORY_DAYS = 3
DASH_MAX_APPENDS = 96
PANELS = ("kpi", "hourly", "hotspot", "anomaly", "incident", "map")

# batch workloads: inputs at this scale factor (sf0.1 = 600k lineitem rows)
BATCH_SF = 0.01

# A subset of the 19 oracle-paired star-schema and events queries, one per
# operator family: scan-aggregate, multi-way join, self-join pair counting,
# cube, correlated subquery, sessionizing window, cohort window-aggregate.
STAR_QUERIES = (
    "pricing_summary",
    "regional_revenue",
    "parts_bought_together",
    "cube_order_stats",
    "orders_above_customer_avg",
    "sessionize",
    "cohort_retention",
)

# The fixpoint and index-building tier: a connected-components consumer,
# the IVF-PQ index build followed by the PQ query that inherits its
# checkpoints, and pagerank's eager rounds.
CORPUS_QUERIES = (
    "dedup_clusters",
    "ann_ivfpq_topk",
    "ann_pq_adc_topk",
    "supplier_pagerank",
)

# (tables the workload generates, queries it runs)
BATCH = {
    "star_batch": (gen.STAR_TABLES + ("events",), STAR_QUERIES),
    "corpus_dedup": (gen.STAR_TABLES + ("documents", "embeddings"), CORPUS_QUERIES),
}

# the per-layer metrics every workload reports (BENCHMARK.json "per_layer")
PER_LAYER = {
    "session.start_s": "s",
    "sources.self_s": "s",
    "sources.files_scanned": "count",
    "build.self_s": "s",
    "build.jobs": "count",
    "operators.self_s": "s",
    "operators.jobs": "count",
    "operators.stages": "count",
    "operators.tasks": "count",
    "operators.task_cpu_s": "s",
    "operators.gc_s": "s",
    "operators.shuffle_read_mb": "MB",
    "operators.shuffle_write_mb": "MB",
    "operators.spill_mb": "MB",
    "operators.empty_task_frac": "ratio",
    "operators.storage_mb_after": "MB",
    "ingest.files_written": "count",
    "request.self_s": "s",
    "trace.hook_s": "s",
    "trace.overhead_s": "s",
}

# layers whose spans are driver build (plan construction, eager jobs)
BUILD_LAYERS = ("plans", "ml", "queries")


# ---------------------------------------------------------------------------
# Statistics
# ---------------------------------------------------------------------------


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 1]."""
    s = sorted(values)
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def tail(samples: list[tuple[str, float]]) -> tuple[float, float]:
    """(value, q) over (request name, latency) samples: the highest of
    p99/p95/p90/p75/p50 with at least ten samples beyond it. Below 20
    samples no percentile qualifies; the tail is then the slowest request's
    median latency (q = 1.0)."""
    values = [t for _, t in samples]
    n = len(values)
    for q in (0.99, 0.95, 0.90, 0.75, 0.50):
        if n * (1.0 - q) >= 10:
            return percentile(values, q), q
    by_name: dict[str, list[float]] = defaultdict(list)
    for name, t in samples:
        by_name[name].append(t)
    return max(statistics.median(v) for v in by_name.values()), 1.0


# ---------------------------------------------------------------------------
# Process / host
# ---------------------------------------------------------------------------


def _proc_status_mb(pid: int, field: str) -> float:
    """A memory field of ``/proc/<pid>/status`` (VmRSS, VmHWM) in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(field + ":"):
                return int(line.split()[1]) / 1024.0
    raise ValueError(f"{field} not in /proc/{pid}/status")


def _jvm_pid(proc) -> int:
    """The gateway's java process. ``spark-submit`` execs java, so it is
    the launched process itself."""
    with open(f"/proc/{proc.pid}/comm") as f:
        comm = f.read().strip()
    if comm != "java":
        raise RuntimeError(f"gateway process {proc.pid} is {comm!r}, not java")
    return proc.pid


def cpu_steal_s() -> float:
    """Host-wide CPU time stolen by the hypervisor since boot, in seconds
    (the ``steal`` column of the ``cpu`` line of ``/proc/stat``). Its rise
    over a run shows a run slowed by other guests on the same machine."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def host_info(cpus: int) -> dict:
    return {
        "nproc": cpus,
        "platform": platform.platform(),
        "python": platform.python_version(),
        "loadavg_before": list(os.getloadavg()),
        "cpu_steal_s_before": cpu_steal_s(),
    }


# ---------------------------------------------------------------------------
# Result
# ---------------------------------------------------------------------------


class Result:
    """Everything one run measured, and the metric views the CLI prints."""

    def __init__(self, workload: str, seed: int, seconds: float, host: dict):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.host = host
        self.input_hash = ""
        self.setup: dict[str, float] = {}
        self.setup_s = 0.0
        self.requests: list[tuple[str, float]] = []  # (name, latency) timed
        self.appends: list[float] = []
        self.rounds: list[float] = []  # cycle (dashboard) / pass (batch) times
        self.untraced_rounds: list[float] = []  # tracer off, in a traced run
        self.breakdown: dict[str, dict[str, list[float]]] = defaultdict(
            lambda: defaultdict(list)
        )
        self.peak_rss_mb = 0.0
        self.retained_mb = 0.0
        self.retained_parts_mb: dict[str, float] = {}
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.checks: list[dict] = []
        self.tracer: Tracer | None = None
        self.groups: dict[str, GroupMetrics] = {}
        self.job_ids: dict[str, list[int]] = {}
        self.storage_after_mb: list[float] = []
        self.files_scanned: list[int] = []
        self.files_written: list[int] = []

    # -- bookkeeping -------------------------------------------------------
    def attempt(self, what: str, fn: Callable[[], object]):
        """Run one operation; an exception counts as a failure."""
        self.attempted += 1
        try:
            return fn()
        except Exception:
            self.fail(f"{what}: {traceback.format_exc(limit=3).strip().splitlines()[-1]}")
            return None

    def fail(self, msg: str) -> None:
        self.failed += 1
        self.errors.append(msg)

    def check(self, what: str, problem: str | None) -> None:
        """Record an output check; a problem counts as a failed operation."""
        self.attempted += 1
        self.checks.append({"check": what, "ok": problem is None, "problem": problem})
        if problem is not None:
            self.fail(f"{what}: {problem}")

    # -- metric views ------------------------------------------------------
    def latencies(self) -> list[float]:
        return [t for _, t in self.requests]

    def end_to_end(self) -> dict:
        lat = self.latencies()
        tail_v, _ = tail(self.requests) if lat else (0.0, 0.0)
        vals = {
            "setup_s": (self.setup_s, "s"),
            "batch_s": (statistics.median(self.rounds) if self.rounds else 0.0, "s"),
            "request_p50_s": (statistics.median(lat) if lat else 0.0, "s"),
            "request_tail_s": (tail_v, "s"),
            "retained_mb": (self.retained_mb, "MB"),
        }
        return {k: {"value": v, "unit": u} for k, (v, u) in vals.items()}

    def _timed_spans(self):
        """Spans of the timed region (requests after set-up)."""
        t = self.tracer
        roots = {s.sid for s in t.spans if s.attrs.get("timed")}
        return [s for s in t.spans if s.request in roots]

    def layer_metrics(self) -> dict[str, float]:
        t = self.tracer
        timed = self._timed_spans()
        by_layer = layer_self_times(timed)
        build = GroupMetrics()
        ops = GroupMetrics()
        for s in timed:
            g = self.groups.get(s.group) if s.group else None
            if g is None:
                continue
            if s.layer in BUILD_LAYERS:
                build.add(g)
            elif s.layer == "operators":
                ops.add(g)
        st = self_times(t.spans)
        setup_sources = sum(
            st[s.sid] for s in t.spans if s.layer == "sources" and s.request is None
        )
        return {
            "session.start_s": sum(s.duration for s in t.spans if s.layer == "session"),
            "sources.self_s": by_layer.get("sources", 0.0) + setup_sources,
            "sources.files_scanned": sum(self.files_scanned),
            "build.self_s": sum(by_layer.get(layer, 0.0) for layer in BUILD_LAYERS),
            "build.jobs": build.jobs,
            "operators.self_s": by_layer.get("operators", 0.0),
            "operators.jobs": ops.jobs,
            "operators.stages": ops.stages,
            "operators.tasks": ops.tasks,
            "operators.task_cpu_s": ops.cpu_s,
            "operators.gc_s": ops.gc_s,
            "operators.shuffle_read_mb": ops.shuffle_read_mb,
            "operators.shuffle_write_mb": ops.shuffle_write_mb,
            "operators.spill_mb": ops.spill_mb,
            "operators.empty_task_frac": ops.empty_tasks / ops.tasks if ops.tasks else 0.0,
            "operators.storage_mb_after": max(self.storage_after_mb, default=0.0),
            "ingest.files_written": sum(self.files_written),
            "request.self_s": by_layer.get("request", 0.0),
            "trace.hook_s": t.hook_s,
        }

    def tracing_overhead_s(self) -> float:
        """Mean round time with the tracer on minus mean round time with it
        off, over the paired rounds of one traced run (see ``timed_rounds``)."""
        return statistics.mean(self.rounds) - statistics.mean(self.untraced_rounds)

    def per_layer(self) -> dict:
        vals = self.layer_metrics()
        vals["trace.overhead_s"] = self.tracing_overhead_s()
        return {name: {"value": vals[name], "unit": u} for name, u in PER_LAYER.items()}

    def record(self) -> dict:
        lat = self.latencies()
        tail_v, tail_q = tail(self.requests) if lat else (0.0, 0.0)
        rec = {
            "workload": self.workload,
            "seed": self.seed,
            "seconds": self.seconds,
            "host": self.host,
            "input_sha256": self.input_hash,
            "setup": self.setup,
            "requests": {
                "n": len(lat),
                "p50_s": statistics.median(lat) if lat else None,
                "tail_q": tail_q,
                "tail_s": tail_v,
                "samples": self.requests,
            },
            "appends_s": self.appends,
            "append_p50_s": statistics.median(self.appends) if self.appends else None,
            "rounds_s": self.rounds,
            "untraced_rounds_s": self.untraced_rounds,
            "breakdown": {k: dict(v) for k, v in self.breakdown.items()},
            "peak_rss_mb": self.peak_rss_mb,
            "retained_parts_mb": self.retained_parts_mb,
            "failed_frac": self.failed / max(1, self.attempted),
            "checks": self.checks,
            "errors": self.errors,
        }
        if self.tracer is not None:
            rec["layers"] = self.layer_metrics()
            rec["layer_self_s_all"] = layer_self_times(self.tracer.spans)
            rec["layer_self_s_timed"] = layer_self_times(self._timed_spans())
            rec["groups"] = {k: v.as_dict() for k, v in self.groups.items()}
            rec["status_tracker_jobs"] = {k: len(v) for k, v in self.job_ids.items()}
            rec["named"] = self.named()
            rec["spans"] = self.tracer.to_json()
        return rec

    def named(self) -> dict[str, float]:
        """Per-call metrics named ``<layer>.<call>.<metric>``.

        Set-up calls (session start, initial ingest, training, loads) are
        timed once as ``.setup_s``. Timed-region calls are summed over the timed
        rounds: ``.build_s`` for driver build (plans, ml, queries),
        ``.exec_s`` for execution at the action (operators), ``.s`` for
        the rest (sources, ingest), each with the jobs, stages, tasks, task
        CPU, GC, shuffle and spill of its job group.
        """
        suffix = {**{layer: "build_s" for layer in BUILD_LAYERS}, "operators": "exec_s"}
        out: dict[str, float] = defaultdict(float)
        for s in self.tracer.spans:
            if s.request is None:
                out[f"{s.layer}.{s.name}.setup_s"] += s.duration
        for s in self._timed_spans():
            if s.layer == "request":
                continue
            base = f"{s.layer}.{s.name}"
            out[f"{base}.{suffix.get(s.layer, 's')}"] += s.duration
            g = self.groups.get(s.group) if s.group else None
            if g is not None:
                for metric, value in (
                    ("jobs", g.jobs),
                    ("stages", g.stages),
                    ("tasks", g.tasks),
                    ("task_cpu_s", g.cpu_s),
                    ("gc_s", g.gc_s),
                    ("shuffle_read_mb", g.shuffle_read_mb),
                    ("shuffle_write_mb", g.shuffle_write_mb),
                    ("spill_mb", g.spill_mb),
                ):
                    out[f"{base}.{metric}"] += value
        return dict(sorted(out.items()))


# ---------------------------------------------------------------------------
# Session
# ---------------------------------------------------------------------------


class Session:
    """SparkSession lifetime, with the event log on when traced."""

    def __init__(self, run_dir: str, traced: bool, result: Result):
        self.traced = traced
        self.result = result
        self.event_dir = os.path.join(run_dir, "eventlog")
        self.spark = None

    def start(self, tracer: Tracer) -> None:
        from network_iq_spark.session import get_spark

        extra = {}
        if self.traced:
            os.makedirs(self.event_dir, exist_ok=True)
            extra = {**EVENT_LOG_CONF, "spark.eventLog.dir": "file://" + self.event_dir}
        with tracer.span("session", "get_spark"):
            self.spark = get_spark(app_name="perfbench", extra_conf=extra)
        self.spark.sparkContext.setLogLevel("ERROR")
        tracer.sc = self.spark.sparkContext if self.traced else None
        jvm = self.spark.sparkContext._jvm
        self.result.host.update(
            {
                "spark": self.spark.version,
                "java": jvm.java.lang.System.getProperty("java.version"),
                "master": self.spark.sparkContext.master,
                "shuffle_partitions": self.spark.conf.get("spark.sql.shuffle.partitions"),
            }
        )

    def storage_mb(self) -> float:
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos) / MB

    def retained(self) -> dict[str, float]:
        """Memory the session still holds once the work is done, in MB: JVM
        heap live after a full collection, JVM non-heap, and this Python
        process's resident set."""
        jvm = self.spark.sparkContext._jvm
        jvm.java.lang.System.gc()
        mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        return {
            "jvm_heap": mx.getHeapMemoryUsage().getUsed() / MB,
            "jvm_non_heap": mx.getNonHeapMemoryUsage().getUsed() / MB,
            "python_rss": _proc_status_mb(os.getpid(), "VmRSS"),
        }

    def stop(self, tracer: Tracer) -> None:
        """Stop Spark and wait for the JVM to exit; then read the event log."""
        sc = self.spark.sparkContext
        proc = getattr(sc._gateway, "proc", None)
        jvm_mb = _proc_status_mb(_jvm_pid(proc), "VmHWM") if proc is not None else 0.0
        self.result.peak_rss_mb = jvm_mb + _proc_status_mb(os.getpid(), "VmHWM")
        self.result.retained_parts_mb = self.retained()
        self.result.retained_mb = sum(self.result.retained_parts_mb.values())
        if self.traced:
            self.result.job_ids = tracer.job_ids()
        self.spark.stop()
        sc._gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        if self.traced:
            self.result.groups = metrics_by_group(read_event_log(self.event_dir))


# Rounds timed per run, at least: one slow round (GC, a busy host) should
# not set a run's figures alone.
MIN_ROUNDS = 2

# Tracer state per round in a traced run: off, on, on, off. Each block
# pairs traced with untraced rounds symmetrically in time, so a steady
# drift of the host's speed cancels out of their difference.
TRACE_BLOCK = (False, True, True, False)


def timed_rounds(res: Result, seconds: float, one_round: Callable[[], None],
                 tr: Tracer) -> None:
    """The timed region: whole rounds (a dashboard cycle, a batch pass),
    at least ``MIN_ROUNDS``, and another only while it is expected to end
    within ``seconds`` of the start.

    In a traced run the rounds come in ``TRACE_BLOCK`` blocks, with the
    tracer switched off for the untraced ones: traced rounds go to
    ``res.rounds`` and feed the per-layer metrics, untraced ones go to
    ``res.untraced_rounds``, and the two give the tracing overhead. Each
    half gets ``seconds``; another block starts only while it is expected
    to end within ``2 * seconds`` of the start.
    """
    start = clock()
    if not tr.enabled:
        while True:
            t0 = clock()
            one_round()
            res.rounds.append(clock() - t0)
            if len(res.rounds) >= MIN_ROUNDS and clock() - start + res.rounds[-1] > seconds:
                return
    try:
        while True:
            t_block = clock()
            for on in TRACE_BLOCK:
                tr.enabled = on
                t0 = clock()
                one_round()
                (res.rounds if on else res.untraced_rounds).append(clock() - t0)
            block = clock() - t_block
            if clock() - start + block > 2 * seconds:
                return
    finally:
        tr.enabled = True


# ---------------------------------------------------------------------------
# Inputs
# ---------------------------------------------------------------------------


# Inputs are generated afresh into each run's directory (untimed; a few
# seconds at most), so a run never reads files another version of the
# generator made.


def _dashboard_inputs(seed: int, out: str) -> None:
    hours = DASH_HISTORY_DAYS * 24
    counts = {}
    for d in range(DASH_HISTORY_DAYS):
        pdf = pd.concat(
            [gen.telemetry_hour(seed, DASH_CELLS, h) for h in range(d * 24, d * 24 + 24)]
        )
        path = os.path.join(out, "history", f"day-{d:02d}.csv")
        gen.write_csv(path, pdf)
        counts[os.path.relpath(path, out)] = gen.clean_row_count(pdf)
    for a in range(DASH_MAX_APPENDS):
        pdf = gen.telemetry_hour(seed, DASH_CELLS, hours + a)
        path = os.path.join(out, "appends", f"hour-{a:03d}.csv")
        gen.write_csv(path, pdf)
        counts[os.path.relpath(path, out)] = gen.clean_row_count(pdf)
    with open(os.path.join(out, "clean_rows.json"), "w") as f:
        json.dump(counts, f, sort_keys=True)


def _batch_inputs(workload: str, seed: int, out: str) -> None:
    tables, _ = BATCH[workload]
    made = {}
    if any(t in gen.STAR_TABLES for t in tables):
        made.update(gen.star_tables(seed, BATCH_SF))
    if "events" in tables:
        made["events"] = gen.events_table(seed, BATCH_SF)
    if "documents" in tables:
        made["documents"] = gen.documents_table(seed, BATCH_SF)
    if "embeddings" in tables:
        made["embeddings"] = gen.embeddings_table(seed, BATCH_SF)
    gen.write_tables(out, {t: made[t] for t in tables})


def _count_files(root: str) -> int:
    return sum(
        name.endswith(".parquet") for _, _, names in os.walk(root) for name in names
    )


# ---------------------------------------------------------------------------
# dashboard
# ---------------------------------------------------------------------------


def run_dashboard(res: Result, sess: Session, tr: Tracer, seed: int, seconds: float,
                  run_dir: str) -> None:
    from network_iq_spark import plans
    from network_iq_spark.ingest import ingest, read_csv, read_curated, telemetry_schema
    from network_iq_spark.ml import derive_labels, score_with_model, train_next_hour

    data = os.path.join(run_dir, "inputs")
    _dashboard_inputs(seed, data)
    res.input_hash = gen.digest(data)
    with open(os.path.join(data, "clean_rows.json")) as f:
        clean = json.load(f)
    history = sorted(p for p in clean if p.startswith("history/"))
    appends = sorted(p for p in clean if p.startswith("appends/"))
    curated = os.path.join(run_dir, "curated")
    schema = telemetry_schema()
    state = {"expected": 0, "next_append": 0, "model": None}

    def append() -> None:
        if state["next_append"] >= len(appends):
            raise RuntimeError("out of generated hourly batches; lower --seconds")
        rel = appends[state["next_append"]]
        traced = tr.enabled
        before = _count_files(curated) if traced else 0
        with tr.span("ingest", "append"):
            ingest(read_csv(spark, os.path.join(data, rel), schema), curated, mode="append")
        if traced:
            res.files_written.append(_count_files(curated) - before)
        state["next_append"] += 1
        state["expected"] += clean[rel]

    def read():
        if tr.enabled:
            res.files_scanned.append(_count_files(curated))
        with tr.span("sources", "read_curated"):
            return read_curated(spark, curated)

    def panel(name: str) -> list:
        cur = read()
        if name == "map":
            with tr.span("plans", "build_latest_features"):
                feats = plans.build_latest_features(cur)
            with tr.span("ml", "score_with_model"):
                preds = score_with_model(state["model"], feats)
            with tr.span("plans", "map_panel"):
                frames = [plans.map_panel(preds, cur)]
        else:
            with tr.span("plans", f"{name}_panel"):
                frames = {
                    "kpi": lambda: [plans.kpi_panel(cur)],
                    "hourly": lambda: [plans.hourly_panel(cur, "latency_ms")],
                    "hotspot": lambda: list(plans.hotspot_panels(cur).values()),
                    "anomaly": lambda: [plans.anomaly_panel(cur)],
                    "incident": lambda: [plans.incident_panel(cur)],
                }[name]()
        with tr.span("operators", name):
            return [f.collect() for f in frames]

    def request(name: str, timed: bool) -> None:
        t0 = clock()
        with tr.request(name, timed):
            rows = res.attempt(name, append if name == "append" else lambda: panel(name))
        dt = clock() - t0
        if rows is not None and name == "kpi":
            got = rows[0][0]["n_rows"]
            res.check(
                f"read-after-append kpi n_rows after {state['next_append']} appends",
                None if got == state["expected"] else f"{got} rows, expected {state['expected']}",
            )
        if timed:
            if name == "append":
                res.appends.append(dt)
            else:
                res.requests.append((name, dt))
            res.breakdown["request"][name].append(dt)

    def cycle(timed: bool) -> None:
        for name in ("append",) + PANELS:
            request(name, timed)

    # -- set-up: session, initial ingest, training, one warm-up cycle -------
    t0 = clock()
    sess.start(tr)
    spark = sess.spark
    t1 = clock()
    with tr.span("ingest", "initial"):
        res.attempt(
            "initial ingest",
            lambda: ingest(
                read_csv(spark, [os.path.join(data, p) for p in history], schema), curated
            ),
        )
    state["expected"] = sum(clean[p] for p in history)
    t2 = clock()

    def train() -> None:
        cur = read()
        with tr.span("ml", "train_next_hour"):
            labeled = derive_labels(plans.build_history_features(cur), "latency_ms", q=0.8)
            state["model"], _ = train_next_hour(labeled)

    res.attempt("train", train)
    t3 = clock()
    cycle(False)
    t4 = clock()
    res.setup = {"session_s": t1 - t0, "ingest_initial_s": t2 - t1, "train_s": t3 - t2,
                 "warmup_s": t4 - t3}
    res.setup_s = t4 - t0

    timed_rounds(res, seconds, lambda: cycle(True), tr)


# ---------------------------------------------------------------------------
# star_batch / corpus_dedup
# ---------------------------------------------------------------------------


def run_batch(res: Result, sess: Session, tr: Tracer, workload: str, seed: int,
              seconds: float, run_dir: str) -> None:
    from network_iq_spark.registry import ORACLES, QUERIES
    from network_iq_spark.sources import load_table

    tables, names = BATCH[workload]
    data = os.path.join(run_dir, "inputs")
    _batch_inputs(workload, seed, data)
    res.input_hash = gen.digest(data)
    res.files_scanned.append(len(tables))

    def query(name: str, timed: bool, collect: bool):
        """One request: driver build, then execution at the action."""
        t0 = clock()
        with tr.request(name, timed):
            with tr.span("queries", name):
                df = QUERIES[name](spark, data)
            t1 = clock()
            with tr.span("operators", name):
                if collect:
                    out = (df.columns, df.collect())
                else:
                    df.write.format("noop").mode("overwrite").save()
                    out = None
        t2 = clock()
        if timed:
            res.requests.append((name, t2 - t0))
            res.breakdown["queries.build_s"][name].append(t1 - t0)
            res.breakdown["operators.exec_s"][name].append(t2 - t1)
            if tr.enabled:
                res.storage_after_mb.append(sess.storage_mb())
        return out

    # -- set-up: session, load, warm-up pass (its rows feed the oracle) -----
    t0 = clock()
    sess.start(tr)
    spark = sess.spark
    t1 = clock()
    for t in tables:
        with tr.span("sources", f"load_table:{t}"):
            res.attempt(f"load {t}", lambda t=t: load_table(spark, data, t))
    t2 = clock()
    # Two warm-up passes; the first collects the rows the oracle checks. The
    # pass after a single warm-up still ran 15-25% slower than the pass after
    # it (JIT), while a dashboard cycle is steady after one warm-up cycle.
    warm = {n: res.attempt(n, lambda n=n: query(n, False, True)) for n in names}
    for n in names:
        res.attempt(n, lambda n=n: query(n, False, False))
    t3 = clock()
    res.setup = {"session_s": t1 - t0, "load_s": t2 - t1, "warmup_s": t3 - t2}
    res.setup_s = t3 - t0

    def one_pass() -> None:
        for n in names:
            res.attempt(n, lambda n=n: query(n, True, False))

    timed_rounds(res, seconds, one_pass, tr)

    # -- one more pass after the timed ones, collected (untimed): state a
    # pass leaves behind (checkpoints, cached plans or tables) must not
    # change the next pass's rows
    last = {n: res.attempt(n, lambda n=n: query(n, False, True)) for n in names}

    # -- oracle checks (untimed) --------------------------------------------
    con = oracle.connect(data, list(tables))
    for label, collected in (("first pass", warm), ("pass after the timed ones", last)):
        for n in names:
            if collected.get(n) is None:
                continue
            cols, rows = collected[n]
            if n in ORACLES:
                res.check(f"{n} oracle, {label}", oracle.compare(con, ORACLES[n], cols, rows))
            else:
                res.check(f"{n} non-empty, {label}", None if rows else "no rows")
    con.close()


# ---------------------------------------------------------------------------


def run(workload: str, *, seed: int, seconds: float, traced: bool, cpus: int,
        run_dir: str) -> Result:
    res = Result(workload, seed, seconds, host_info(cpus))
    tr = Tracer(traced)
    res.tracer = tr if traced else None
    sess = Session(run_dir, traced, res)
    try:
        if workload == "dashboard":
            run_dashboard(res, sess, tr, seed, seconds, run_dir)
        else:
            run_batch(res, sess, tr, workload, seed, seconds, run_dir)
    finally:
        if sess.spark is not None:
            sess.stop(tr)
    res.host["loadavg_after"] = list(os.getloadavg())
    res.host["cpu_steal_s_after"] = cpu_steal_s()
    return res
