"""abspark benchmark: closed-loop query workloads over the plans registry.

One measuring process, one Spark session on ``local[<nproc>]``, one client:
the next query starts only when the previous result is in this Python
process (Arrow ``toPandas()``).  Between executions the cache is cleared and
temp views are dropped, as ``bench.py`` does.  Every timed execution is
checked against its DuckDB oracle; expected hashes are computed after
set-up and before the first timed query, outside both.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1      # serve, iterate, ingest_dump
    python3 perfbench/run.py --smoke                      # serve and batch, untraced and traced

A run is: set up ``SETUPS`` times, each in a fresh process with its own JVM
(package import, session start, warm-up; ``setup_s`` is the median; the
last set-up is the measuring process's own), then the expected hashes, then
one cold pass over the workload's pool in pool order, then the warm passes
``--seconds`` buys, each in a fresh seeded order.  With ``--trace 1`` the
cold pass and the middle two of every four warm passes are traced (layer
spans and status-store deltas per execution); the other warm passes are
untraced, so tracing overhead is measured in the same process.

The last stdout line is ``{"correct", "attempted", "failed", "metrics"}``;
the line before it is the full report (every metric with unit and sample
count, failures, provenance).  Runtime state goes under ``.perfbench_work/``
at the checkout root; spans and reports are kept in its ``results/``.
"""

from __future__ import annotations

import argparse
import hashlib
import importlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
SF_DIR = os.path.join(HERE, "data", "sf0.001")
PKG = "acousticbrainz_server_spark"
T_START = time.perf_counter()

SETUPS = 2
MIN_WARM = 2

# Fixed pools; the seed sets pass order only.  Each is a hand-picked subset
# of the query family it names: one query per layer the family crosses, as
# few as a run's time budget allows.
POOLS = {
    # API-style point / top-K / ANN lookups: per-query fixed cost dominates
    # (plans construction, Catalyst, a few jobs); executors stay idle.
    "serve": ("point_lookup_batch", "topk_per_group", "job_queue_state", "knn_exact_topk", "ann_pq_adc_topk"),
    # Multi-action loop and dedup jobs: a graph iteration and MinHash-LSH
    # near-dup; actions per iteration and compute both matter.
    "iterate": ("minhash_lsh_neardup", "label_propagation_communities"),
    # Writers and the streaming state store; writes and state are reported
    # for the cold pass and the later passes separately.
    "ingest_dump": ("dump_archive_roundtrip", "streaming_offsets_stateful"),
}
# Both batch pools in one pass: the gated workload that crosses the loop,
# dedup, writer and state-store layers within the time budget.
POOLS["batch"] = POOLS["iterate"] + POOLS["ingest_dump"]

# ``--seconds`` buys seconds // WARM_PASS_BUDGET_S warm passes (at least
# MIN_WARM).  The count follows the arguments, never the measured speed: warm
# passes keep getting faster (JIT), so a speed-dependent count would feed
# noise into the metrics.
WARM_PASS_BUDGET_S = 5.0

END_TO_END = (
    ("setup_s", "s"),
    ("cold_pass_s", "s"),
    ("warm_pass_s", "s"),
    ("latency_p50_s", "s"),
    ("latency_p90_s", "s"),
    ("peak_rss_mb", "MB"),
)

# per-layer metrics; values are per traced warm pass unless the name ends in
# ".cold" (the cold pass) or belongs to session/trace/scratch
PER_LAYER = (
    ("session.import_s", "s"), ("session.start_s", "s"), ("session.warmup_s", "s"),
    ("sources.read_calls", "count"), ("sources.read_s", "s"), ("sources.write_s", "s"),
    ("plans.build_s", "s"), ("plans.eager_sql_execs", "count"),
    ("dedup.s", "s"), ("dedup.sql_execs", "count"),
    ("operators.s", "s"), ("operators.sql_execs", "count"),
    ("similarity.s", "s"), ("similarity.sql_execs", "count"),
    ("streaming.s", "s"),
    ("catalyst.analysis_ms", "ms"), ("catalyst.optimization_ms", "ms"), ("catalyst.planning_ms", "ms"),
    ("scheduler.sql_execs", "count"), ("scheduler.jobs", "count"), ("scheduler.stages", "count"),
    ("scheduler.tasks", "count"), ("scheduler.no_stage_frac", "fraction"),
    ("executor.run_s", "s"), ("executor.cpu_s", "s"), ("executor.gc_s", "s"), ("executor.busy_frac", "fraction"),
    ("shuffle.read_bytes", "bytes"), ("shuffle.write_bytes", "bytes"), ("shuffle.spill_bytes", "bytes"),
    ("pyworker.total_s", "s"), ("pyworker.boot_s", "s"),
    ("pyworker.bytes_sent", "bytes"), ("pyworker.bytes_received", "bytes"),
    ("collect.rows", "count"), ("collect.arrow_bytes", "bytes"),
    ("writer.output_bytes", "bytes"), ("writer.output_records", "count"),
    ("writer.output_bytes.cold", "bytes"), ("writer.output_records.cold", "count"),
    ("state.batches", "count"), ("state.input_rows", "count"), ("state.rows_total", "count"),
    ("state.commit_ms", "ms"), ("state.add_batch_ms", "ms"),
    ("state.batches.cold", "count"), ("state.input_rows.cold", "count"), ("state.rows_total.cold", "count"),
    ("state.commit_ms.cold", "ms"), ("state.add_batch_ms.cold", "ms"),
    ("scratch.bytes_left", "bytes"),
    ("trace.overhead_s", "s"), ("trace.overhead_frac", "fraction"),
)

# Reported in the report line, left off the result line (so ungated):
REPORT_ONLY = frozenset({
    # Warm passes are still on the JIT warm-up curve (each pass faster than
    # the last for 6-8 passes), and how far down it a process gets varies
    # from process to process: in two sets of ten seeds warm_pass_s spread
    # 0.20 and 0.30 IQR/median on serve, 0.44 and 0.12 on batch.  Reaching
    # the flat part takes 30-50 s of warm passes a run, more than the time
    # budget allows.
    "warm_pass_s",
    # percentiles over a run's 8-10 warm draws of 4-5 distinct queries sit
    # between per-query clusters, and a p90 needs ten draws beyond it
    "latency_p50_s", "latency_p90_s",
    # JVM heap growth follows GC timing: 0.14-0.22 IQR/median over ten seeds
    "peak_rss_mb",
    # times of layers one gated workload never crosses read exactly 0.0 on
    # each of its runs: similarity on "batch"; writers, dedup, streaming and
    # the state store on "serve"; GC on both
    "sources.write_s", "dedup.s", "similarity.s", "streaming.s", "executor.gc_s", "state.commit_ms",
    "state.add_batch_ms", "state.commit_ms.cold", "state.add_batch_ms.cold",
    # Spark's "time to initialize Python workers" for applyInPandasWithState
    # sums to 11-17 s of task time in a 1.3 s execution on 4 cores, so it is
    # not a time a change could be judged by
    "pyworker.boot_s",
})
RESULT_END_TO_END = tuple((k, u) for k, u in END_TO_END if k not in REPORT_ONLY)
RESULT_PER_LAYER = tuple((k, u) for k, u in PER_LAYER if k not in REPORT_ONLY)

# span-layer totals (layers.Tracer.layer_totals) -> per-layer metric names
SPAN_METRICS = {
    "plans.self_s": "plans.build_s",
    "plans.eager_sql_execs": "plans.eager_sql_execs",
    "sources.read.self_s": "sources.read_s",
    "sources.read.calls": "sources.read_calls",
    "sources.write.self_s": "sources.write_s",
    "dedup.self_s": "dedup.s",
    "dedup.self_sql": "dedup.sql_execs",
    "operators.self_s": "operators.s",
    "operators.self_sql": "operators.sql_execs",
    "similarity.self_s": "similarity.s",
    "similarity.self_sql": "similarity.sql_execs",
    "streaming.self_s": "streaming.s",
}


def isolate(run_dir: str) -> dict[str, str]:
    """Point every temp/scratch location of this process, its JVM and its
    Python workers inside ``run_dir``, and let the workers import the package
    from this checkout whatever the caller's cwd.  Returns the Spark conf."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    return {"spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse")}


class ArrowCapture:
    """Keeps the Arrow batches of the next ``toPandas()`` once armed, so the
    result check hashes exactly what was materialised."""

    def __init__(self):
        from pyspark.sql.classic.dataframe import DataFrame

        orig = DataFrame._collect_as_arrow
        self.armed = False
        self.batches = None

        def _collect_as_arrow(df, *args, **kwargs):
            batches = orig(df, *args, **kwargs)
            if self.armed:
                self.armed, self.batches = False, list(batches)
            return batches

        DataFrame._collect_as_arrow = _collect_as_arrow

    def arm(self) -> None:
        self.armed, self.batches = True, None

    def table(self):
        import pyarrow as pa

        if not self.batches:
            return None
        return pa.Table.from_batches(self.batches)


def setup(cpus: int, conf: dict[str, str]):
    """Import the package, start the session, run the warm-up actions
    (``bench.py``'s).  Called once per process, before anything else imports
    pyspark or the package, so it pays JVM launch and first-time warm-up."""
    t0 = time.perf_counter()
    registry = importlib.import_module(f"{PKG}.plans.registry")
    registry._load_all()
    session = importlib.import_module(f"{PKG}.session")
    t1 = time.perf_counter()
    spark = session.get_spark("perfbench", cpus=cpus, extra_conf=conf)
    t2 = time.perf_counter()
    spark.read.parquet(os.path.join(SF_DIR, "lineitem.parquet")).count()
    n = spark.sparkContext.defaultParallelism
    spark.range(n).repartition(n).mapInPandas(lambda it: it, "id LONG").count()
    t3 = time.perf_counter()
    times = {"setup_s": t3 - t0, "session.import_s": t1 - t0, "session.start_s": t2 - t1, "session.warmup_s": t3 - t2}
    return spark, registry.QUERIES, times


def stop_spark(spark) -> None:
    """Stop the session, the Py4J gateway and the JVM, and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if spark is not None:
        spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def setup_child() -> int:
    """One set-up repetition in this fresh process; prints its times."""
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    spark = None
    try:
        spark, _, times = setup(len(os.sched_getaffinity(0)), isolate(run_dir))
    finally:
        stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(times))
    return 0


def setup_elsewhere() -> dict[str, float]:
    """Times of one set-up repetition run in a fresh process."""
    r = subprocess.run([sys.executable, os.path.abspath(__file__), "--setup-child"], capture_output=True, text=True,
                       timeout=170)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        raise RuntimeError(f"set-up process exited {r.returncode}: {r.stderr[-2000:]}")
    return json.loads(lines[-1])


def housekeeping(spark) -> None:
    spark.catalog.clearCache()
    for t in spark.catalog.listTables():
        if t.isTemporary:
            spark.catalog.dropTempView(t.name)


def catalyst_ms(df) -> dict[str, float]:
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for phase in ("analysis", "optimization", "planning"):
        p = phases.get(phase)
        out[f"catalyst.{phase}_ms"] = float(p.get().durationMs()) if p.isDefined() else 0.0
    return out


class Runner:
    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, cpus: int):
        self.workload, self.seconds, self.trace, self.cpus = workload, seconds, trace, cpus
        self.pool = POOLS[workload]
        self.rng = random.Random(seed)
        self.spark = None
        self.tracer = self.probe = self.listener = None
        self.setups: list[dict] = []
        self.passes: list[dict] = []
        self.failures: list[dict] = []
        self.n_exec = 0

    def start(self, conf: dict[str, str]) -> None:
        """The set-up repetitions (the others in fresh processes, one after
        another, then this process's own), then the expected results
        (outside every timed interval), then the tracing hooks of a traced
        run."""
        self.setups = [setup_elsewhere() for _ in range(SETUPS - 1)]
        self.spark, self.queries, times = setup(self.cpus, conf)
        self.setups.append(times)
        from oracle import Oracle

        t0 = time.perf_counter()
        self.oracle = Oracle(ROOT, SF_DIR, {n: self.queries[n] for n in self.pool})
        self.oracle_s = time.perf_counter() - t0
        self.capture = ArrowCapture()
        if self.trace:
            import layers

            self.probe = layers.StatusProbe(self.spark)
            self.tracer = layers.Tracer(self.probe.sql_id)
            layers.install(self.tracer)
            self.listener = layers.make_state_listener()
            self.spark.streams.addListener(self.listener)

    def execute(self, name: str, traced: bool) -> dict:
        spark, spec = self.spark, self.queries[name]
        self.n_exec += 1
        rec = {"name": name, "exec": self.n_exec, "ok": False}
        if traced:
            self.probe.drain()
            self.listener.take()
            self.tracer.exec_id = self.n_exec
            self.tracer.enabled = True
            before = self.probe.snapshot()
        e0 = time.time()
        t0 = time.perf_counter()
        try:
            if traced:
                df = self.tracer.call("plans", name, spec.spark_fn, spark, SF_DIR)
            else:
                df = spec.spark_fn(spark, SF_DIR)
            self.capture.arm()
            df.toPandas()
            rec["wall_s"] = time.perf_counter() - t0
            e1 = time.time()
        except Exception as e:  # counted in failed_frac, the run goes on
            rec["error"] = f"{type(e).__name__}: {str(e).strip().splitlines()[0] if str(e).strip() else ''}"[:300]
        finally:
            self.capture.armed = False
            if traced:
                self.tracer.enabled = False
        if "wall_s" in rec:
            if traced:
                rec.update(self.probe.window(before, e0, e1))
                rec.update(self.listener.take())
                rec.update(catalyst_ms(df))
            table = self.capture.table()
            if traced:
                rec["collect.rows"] = float(table.num_rows if table is not None else 0)
                rec["collect.arrow_bytes"] = float(sum(b.nbytes for b in self.capture.batches or ()))
            reason = self.oracle.check(name, df.schema, table)
            if reason is None:
                rec["ok"] = True
            else:
                rec["error"] = f"oracle: {reason}"
        self.capture.batches = None
        if not rec["ok"]:
            self.failures.append({"name": name, "pass": len(self.passes), "error": rec["error"]})
        housekeeping(spark)
        return rec

    def run_pass(self, kind: str, traced: bool) -> None:
        # The cold pass runs in pool order: the first query pays the JVM's
        # first-time costs for all of them, so a seeded order would move
        # seconds between queries and spread cold_pass_s from seed to seed.
        order = self.pool if kind == "cold" else self.rng.sample(self.pool, len(self.pool))
        execs = [self.execute(n, traced) for n in order]
        wall = sum(r.get("wall_s", 0.0) for r in execs)
        self.passes.append({"kind": kind, "traced": traced, "wall_s": wall, "execs": execs})

    def run(self) -> None:
        self.t_measure = time.perf_counter()
        self.run_pass("cold", self.trace)
        n_warm = max(MIN_WARM, int(self.seconds // WARM_PASS_BUDGET_S))
        # a traced run orders its warm passes untraced, traced, traced,
        # untraced, so the overhead estimate is not biased by warm-up drift
        for k in range(max(4, n_warm) if self.trace else n_warm):
            self.run_pass("warm", self.trace and k % 4 in (1, 2))
        self.measure_s = time.perf_counter() - self.t_measure

    def peak_rss_mb(self) -> float:
        jvm_pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        return (_hwm_kb(os.getpid()) + _hwm_kb(jvm_pid)) / 1024.0

    # ---- metrics -------------------------------------------------------

    def end_to_end(self, rss_mb: float) -> dict[str, dict]:
        cold = self.passes[0]
        warm = [p for p in self.passes[1:] if not p["traced"]]
        lat = [r["wall_s"] for p in warm for r in p["execs"] if r["ok"]]
        setups = [s["setup_s"] for s in self.setups]
        # steady-state pass: each query's best warm time (bench.py's warm
        # estimator), summed over the pool; robust to one slow window
        best = {}
        for p in warm:
            for r in p["execs"]:
                if r["ok"]:
                    best[r["name"]] = min(best.get(r["name"], r["wall_s"]), r["wall_s"])
        m = {
            "setup_s": (statistics.median(setups), "s", len(setups)),
            "cold_pass_s": (cold["wall_s"], "s", 1),
            "warm_pass_s": (sum(best.values()), "s", len(warm)),
            "latency_p50_s": (statistics.median(lat), "s", len(lat)),
            "latency_p90_s": (statistics.quantiles(lat, n=10)[-1], "s", len(lat)),
            "peak_rss_mb": (rss_mb, "MB", 1),
        }
        return {k: {"value": v, "unit": u, "n": n} for k, (v, u, n) in m.items()}

    def per_layer(self, scratch_bytes: int) -> dict[str, dict]:
        units = dict(PER_LAYER)
        traced_warm = [p for p in self.passes[1:] if p["traced"]]
        untraced_warm = [p for p in self.passes[1:] if not p["traced"]]
        vals: dict[str, tuple[float, int]] = {}
        for key in ("session.import_s", "session.start_s", "session.warmup_s"):
            vals[key] = (statistics.median(s[key] for s in self.setups), len(self.setups))
        per_pass = [self._pass_layers(p) for p in traced_warm]
        cold = self._pass_layers(self.passes[0])
        for key, _ in PER_LAYER:
            if key.endswith(".cold"):
                vals[key] = (cold[key.removesuffix(".cold")], 1)
            elif key not in vals:
                vals[key] = (statistics.median(pp[key] for pp in per_pass), len(per_pass))
        vals["scratch.bytes_left"] = (float(scratch_bytes), 1)
        t_on = statistics.median(p["wall_s"] for p in traced_warm)
        t_off = statistics.median(p["wall_s"] for p in untraced_warm)
        vals["trace.overhead_s"] = (t_on - t_off, len(traced_warm) + len(untraced_warm))
        vals["trace.overhead_frac"] = ((t_on - t_off) / t_off, len(traced_warm) + len(untraced_warm))
        return {k: {"value": vals[k][0], "unit": units[k], "n": vals[k][1]} for k, _ in PER_LAYER}

    def _pass_layers(self, p: dict) -> dict[str, float]:
        """Sum of one traced pass's execution windows plus its span-layer
        self times, under the per-layer metric names."""
        out = {k: 0.0 for k, _ in PER_LAYER}
        wall = 0.0
        for r in p["execs"]:
            if "wall_s" not in r:
                continue
            wall += r["wall_s"]
            for k, v in r.items():
                if k in out:
                    out[k] += v
            out["scheduler.no_stage_frac"] += r.get("scheduler.no_stage_s", 0.0)
        totals = self.tracer.layer_totals({r["exec"] for r in p["execs"]})
        for k, name in SPAN_METRICS.items():
            out[name] = float(totals.get(k, 0.0))
        out["scheduler.no_stage_frac"] /= wall
        out["executor.busy_frac"] = out["executor.run_s"] / (wall * self.cpus)
        return out


def per_query(passes: list[dict]) -> dict[str, dict]:
    """Cold wall time and median untraced warm wall time of each query."""
    out: dict[str, dict] = {}
    for p in passes:
        for r in p["execs"]:
            q = out.setdefault(r["name"], {"cold": None, "warm": []})
            if "wall_s" not in r:
                continue
            if p["kind"] == "cold":
                q["cold"] = r["wall_s"]
            elif not p["traced"]:
                q["warm"].append(r["wall_s"])
    return {n: {"cold": q["cold"], "warm": statistics.median(q["warm"]) if q["warm"] else None}
            for n, q in out.items()}


def _hwm_kb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return float(line.split()[1])
    return 0.0


def _tree_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(d, f)).st_size
            except OSError:
                pass
    return total


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return vals[7] if len(vals) > 7 else 0, sum(vals)


def provenance(seed: int, cpus: int, load_start, ticks_start) -> dict:
    import duckdb
    import pyarrow
    import pyspark

    ticks = cpu_ticks()
    head = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True)
        head = r.stdout.strip() or None
    digest = hashlib.sha256()
    for d, dirs, files in sorted(os.walk(os.path.join(ROOT, PKG))):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(d, f), "rb") as fh:
                    digest.update(f.encode() + b"\0" + fh.read())
    return {
        "seed": seed,
        "nproc": cpus,
        "loadavg_start": [round(x, 2) for x in load_start],
        "loadavg_end": [round(x, 2) for x in os.getloadavg()],
        # share of CPU time the hypervisor took from this machine during the run
        "cpu_steal_frac": round((ticks[0] - ticks_start[0]) / max(1, ticks[1] - ticks_start[1]), 4),
        "git_head": head,
        "package_sha256": digest.hexdigest()[:16],
        "spark": pyspark.__version__,
        "duckdb": duckdb.__version__,
        "pyarrow": pyarrow.__version__,
        "python": sys.version.split()[0],
        "data_dir": os.path.relpath(SF_DIR, ROOT),
    }


def run_one(args) -> int:
    load_start, ticks_start = os.getloadavg(), cpu_ticks()
    cpus = len(os.sched_getaffinity(0))
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    results = os.path.join(WORK, "results")
    os.makedirs(results, exist_ok=True)
    conf = isolate(run_dir)
    runner = Runner(args.workload, args.seed, args.seconds, bool(args.trace), cpus)
    try:
        runner.start(conf)
        runner.run()
        rss = runner.peak_rss_mb()
    finally:
        t0 = time.perf_counter()
        stop_spark(runner.spark)
        shutdown_s = time.perf_counter() - t0
        tmp = os.path.join(run_dir, "tmp")
        # scratch the package's queries leave behind (ROADMAP D4)
        scratch = {e: _tree_bytes(os.path.join(tmp, e)) for e in sorted(os.listdir(tmp)) if e.startswith("abspark_")}
        shutil.rmtree(run_dir, ignore_errors=True)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    e2e = runner.end_to_end(rss)
    layers = runner.per_layer(sum(scratch.values())) if args.trace else None
    attempted = sum(len(p["execs"]) for p in runner.passes)
    failed = len(runner.failures)
    if runner.tracer is not None:
        runner.tracer.dump(os.path.join(results, f"spans-{tag}.jsonl"))
    report = {
        "workload": args.workload,
        "trace": args.trace,
        "pool": list(runner.pool),
        "passes": [{"kind": p["kind"], "traced": p["traced"], "wall_s": p["wall_s"],
                    "execs": [[r["name"], r.get("wall_s")] for r in p["execs"]]} for p in runner.passes],
        "timeline_s": {"oracle": runner.oracle_s, "setups": runner.setups,
                       "measure": runner.measure_s, "shutdown": shutdown_s, "total": time.perf_counter() - T_START},
        "end_to_end": e2e,
        "per_layer": layers,
        "per_query_s": per_query(runner.passes),
        "failed_frac": failed / attempted,
        "failures": runner.failures,
        "scratch_bytes_left": scratch,
        "provenance": provenance(args.seed, cpus, load_start, ticks_start),
    }
    with open(os.path.join(results, f"{tag}.json"), "w") as f:
        json.dump(report, f, indent=1)
    print(json.dumps(report))
    metrics = {k: layers[k] for k, _ in RESULT_PER_LAYER} if args.trace else {k: e2e[k] for k, _ in RESULT_END_TO_END}
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v["value"], "unit": v["unit"]} for k, v in metrics.items()},
    }))
    return 0


def run_many(workloads, seed: int, seconds: float, traces) -> int:
    """Each workload in a fresh process; prints a summary table and exits
    non-zero if any run failed or any execution missed its oracle."""
    ok = True
    rows = []
    for trace in traces:
        for w in workloads:
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", w, "--seed", str(seed),
                   "--seconds", str(seconds), "--trace", str(trace)]
            r = subprocess.run(cmd, capture_output=True, text=True)
            lines = r.stdout.strip().splitlines()
            if r.returncode != 0 or len(lines) < 2:
                sys.stderr.write(r.stderr[-4000:])
                print(f"{w} trace={trace}: exit {r.returncode}")
                ok = False
                continue
            report, result = json.loads(lines[-2]), json.loads(lines[-1])
            ok &= result["correct"]
            rows.append((w, trace, report, result))
            for f in report["failures"]:
                print(f"{w} trace={trace}: FAIL {f['name']}: {f['error']}")
    for w, trace, report, result in rows:
        print(f"\n{w} trace={trace} attempted={result['attempted']} failed={result['failed']} "
              f"failed_frac={report['failed_frac']:.3f}")
        for k, v in (report["per_layer"] if trace else report["end_to_end"]).items():
            print(f"  {k:32s} {v['value']:14.4f} {v['unit']:8s} n={v['n']}")
    print(json.dumps({"ok": ok, "runs": [{"workload": w, "trace": t, **res} for w, t, _, res in rows]}))
    return 0 if ok else 1


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=[*POOLS, "all"])
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="the gated workloads (serve, batch), untraced and traced, minimal passes")
    ap.add_argument("--setup-child", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)
    if args.setup_child:
        return setup_child()
    if args.smoke:
        return run_many(["serve", "batch"], args.seed, 0, (0, 1))
    if args.workload is None:
        ap.error("--workload or --smoke is required")
    if args.workload == "all":
        return run_many(["serve", "iterate", "ingest_dump"], args.seed, args.seconds, (args.trace,))
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
