"""End-to-end and per-layer benchmark of the query engine.

    python3 perfbench/run.py --workload short_lazy --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. One run, one process, one client in a
closed loop on ``local[N]`` with N = the usable cores:

1. generates the fixture tables (fixed content, ``datagen.py``) into
   ``.perfbench_work/`` in the checkout, once per checkout;
2. launches the driver JVM and runs one cold pass over the workload in
   that fresh session, then whole steady passes (at least four, and
   until ``--seconds`` have gone by); the seed permutes the query order
   of every pass. ``cold_pass_cpu_s`` is the CPU time of the cold pass
   and ``query_cpu_s`` the CPU time per query of the median steady pass
   (this process, the driver JVM and its Python workers, without the
   JIT compiler threads); the wall-clock
   figures (``cold_pass_s``, ``queries_per_s``, ``query_p50_s``,
   ``query_tail_s``) and ``jvm_peak_rss_mb`` go to the record (see
   ``metrics.py`` for why they carry no bound);
3. checks the workload's outputs against the DuckDB oracle (untimed) and
   checks each query for leaked confs, live streams and temp views;
4. sets the session up three more times on the same JVM (stop,
   ``get_spark``, one tiny job, Python-worker warm-up) and reports the
   median as ``setup_s``.

Each query goes through the public entry points:
``registry()[name].fn(spark, sf_dir)`` and then the workload's sink.
With ``--trace 1`` the steady passes alternate between untraced and
traced, and the run reports per-layer metrics (see ``layers.py``) plus the
tracing overhead instead of the end-to-end metrics.

The last line of stdout is the result:
``{"correct": .., "attempted": .., "failed": .., "metrics": {..}}``. A
record with the query list, session config, sample counts and failures
goes to stderr and to ``.perfbench_work/records/``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import random
import shutil
import signal
import statistics
import sys
import time
from dataclasses import dataclass, field
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench_work"
PKG = "uk_procurement_data_pipeline_spark"
SF = 0.001
DATA_SEED = 42
SETUP_REPEATS = 3
# Every run measures at least this many whole steady passes, so the
# steady sample count (and the tail percentile) is the same in every run,
# and one pass slowed by the machine does not move the per-pass median.
MIN_STEADY_PASSES = 4
# Stop starting new steady passes once the run has used this much wall
# time, so a slow machine still ends well inside the per-run limit.
RUN_BUDGET_S = 120.0
# A run still going after this long kills its driver JVM and exits non-zero.
RUN_DEADLINE_S = 170

sys.path.insert(0, str(HERE))

from metrics import END_TO_END, PER_LAYER, UNITS  # noqa: E402
from workloads import COMMON_MOVES, WORKLOADS  # noqa: E402


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def cores() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def prepare_environment() -> dict[str, str]:
    """Point every scratch location at the checkout and make the repo
    importable in this process and in Spark's Python workers."""
    if not (ROOT / PKG / "__init__.py").is_file() or not (ROOT / "tools" / "oracle_check.py").is_file():
        raise SystemExit(
            f"perfbench: {ROOT} holds no {PKG}/ package and tools/oracle_check.py; "
            "run from the root of a full checkout"
        )
    dirs = {k: WORK / k for k in ("tmp", "spark-local", "index", "warehouse", "out", "records")}
    for d in dirs.values():
        d.mkdir(parents=True, exist_ok=True)
    sys.path.insert(0, str(ROOT))
    parts = [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(parts)
    os.environ["TMPDIR"] = str(dirs["tmp"])
    os.environ["SPARK_LOCAL_DIRS"] = str(dirs["spark-local"])
    os.environ["SPARK_GRAFT_INDEX_ROOT"] = str(dirs["index"])
    import tempfile

    tempfile.tempdir = str(dirs["tmp"])
    return {k: str(v) for k, v in dirs.items()}


def fixture_dir() -> Path:
    """The generated tables; regenerated only when the generator changes."""
    import datagen

    digest = hashlib.sha256((HERE / "datagen.py").read_bytes()).hexdigest()[:12]
    path = WORK / f"data-sf{SF}-seed{DATA_SEED}-{digest}"
    if not (path / "_done").exists():
        tmp = path.with_name(path.name + ".partial")
        shutil.rmtree(tmp, ignore_errors=True)
        datagen.write(tmp, SF, DATA_SEED)
        (tmp / "_done").write_text("")
        shutil.rmtree(path, ignore_errors=True)
        tmp.rename(path)
    return path


def session_conf(dirs: dict[str, str]) -> dict[str, str]:
    # Fixed JIT compiler threads: with the default dynamic count, an idle
    # compiler thread exits and its CPU time moves into the process total,
    # where it can no longer be told apart from the query work.
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": dirs["warehouse"],
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UseDynamicNumberOfCompilerThreads"
        ),
    }


class Session:
    """Launches, restarts and times the engine's SparkSession."""

    def __init__(self, n_cores: int, dirs: dict[str, str]) -> None:
        from uk_procurement_data_pipeline_spark.session import get_spark

        self.get_spark = get_spark
        self.n = n_cores
        self.conf = session_conf(dirs)
        self.spark = None
        self.jvm_pid = 0

    def start(self):
        self.spark = self.get_spark("perfbench", master=f"local[{self.n}]", extra_conf=self.conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def ready(self) -> float:
        """One tiny job, then Python-worker warm-up; returns the warm-up time."""
        self.spark.range(10).count()
        t0 = time.perf_counter()
        self.spark.range(self.n * 4).repartition(self.n).mapInPandas(
            lambda batches: batches, schema="id long"
        ).write.mode("overwrite").format("noop").save()
        return time.perf_counter() - t0

    def launch(self) -> float:
        """Start the driver JVM and the first session; returns the time."""
        t0 = time.perf_counter()
        self.start()
        self.jvm_pid = self.spark.sparkContext._gateway.proc.pid
        return time.perf_counter() - t0

    def time_setups(self) -> dict[str, float]:
        """Set the session up again ``SETUP_REPEATS`` times on the running JVM."""
        totals, starts, warmups = [], [], []
        for _ in range(SETUP_REPEATS):
            self.spark.stop()
            t0 = time.perf_counter()
            self.start()
            t1 = time.perf_counter()
            warmups.append(self.ready())
            totals.append(time.perf_counter() - t0)
            starts.append(t1 - t0)
        return {
            "setup_s": statistics.median(totals),
            "setup_samples_s": totals,
            "session.start_s": statistics.median(starts),
            "session.python_warmup_s": statistics.median(warmups),
        }

    def peak_rss_mb(self) -> float:
        with open(f"/proc/{self.jvm_pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("no VmHWM for the driver JVM")

    def stop(self) -> None:
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gw = SparkContext._gateway
        if gw is not None and getattr(gw, "proc", None) is not None:
            gw.proc.stdin.close()
            gw.proc.wait(timeout=60)
            gw.close()
            SparkContext._gateway = None
            SparkContext._jvm = None


# Thread names (truncated to 15 characters by the kernel) of the JVM's JIT
# compilers. Their CPU time is warm-up whose amount per pass depends on
# timing, so it is kept out of the CPU metrics and reported on its own.
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _ticks(stat_path: str) -> tuple[int, int]:
    """(parent pid, user + system clock ticks) from a /proc stat file."""
    with open(stat_path) as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return int(fields[1]), int(fields[11]) + int(fields[12])


def tree_cpu_s(root_pid: int) -> tuple[float, float]:
    """CPU seconds of this process, ``root_pid`` and every process descended
    from it (Spark's Python daemon and workers), without the JIT compiler
    threads of ``root_pid``; and the CPU seconds of those threads."""
    tick = os.sysconf("SC_CLK_TCK")
    parent, cpu = {}, {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                parent[int(entry)], cpu[int(entry)] = _ticks(f"/proc/{entry}/stat")
            except OSError:
                continue
    total = 0
    for pid, ticks in cpu.items():
        p = pid
        while p > 1 and p != root_pid and p != os.getpid():
            p = parent.get(p, 0)
        if p in (root_pid, os.getpid()):
            total += ticks
    jit = 0
    for tid in os.listdir(f"/proc/{root_pid}/task"):
        try:
            with open(f"/proc/{root_pid}/task/{tid}/comm") as f:
                if f.read().strip() in JIT_THREADS:
                    jit += _ticks(f"/proc/{root_pid}/task/{tid}/stat")[1]
        except OSError:
            continue
    return (total - jit) / tick, jit / tick


def temp_views(spark) -> set[str]:
    names = spark._jsparkSession.sessionState().catalog().getTempViewNames()
    return set(filter(None, names.mkString("\n").split("\n")))


def conf_text(spark) -> str:
    """The session's whole conf as one string (one JVM call, ~2 ms)."""
    return spark._jsparkSession.conf().getAll().toString()


class Runner:
    """Runs one query at a time through ``fn`` + sink and checks isolation."""

    def __init__(self, spark, workload, data_dir: Path, out_dir: Path) -> None:
        from uk_procurement_data_pipeline_spark.queries import registry

        self.spark = spark
        self.w = workload
        self.data = str(data_dir)
        self.out = out_dir
        self.reg = registry()
        self.attempted = 0
        self.failures: dict[str, list[str]] = {}
        self.views_left: dict[str, int] = {}
        self.tracer = None  # set to a Tracer for traced passes
        self.last_df = {}  # name -> DataFrame of the latest lazy run
        self.jvm_pid = spark.sparkContext._gateway.proc.pid

    def sink(self, df, name: str) -> None:
        if self.w.sink == "noop":
            df.write.mode("overwrite").format("noop").save()
        else:
            df.write.mode("overwrite").parquet(str(self.out / name))

    def fail(self, name: str, why: str) -> None:
        self.failures.setdefault(name, []).append(why)
        log(f"FAIL {name}: {why}")

    def run(self, name: str) -> float | None:
        """Latency of one query (build + sink), or None if it failed."""
        spark, spec = self.spark, self.reg[name]
        conf0, views0 = conf_text(spark), temp_views(spark)
        tracer = self.tracer
        self.attempted += 1
        error = None
        if tracer:
            tracer.before_query()
        t0 = time.perf_counter()
        try:
            if tracer:
                with tracer.rec.open("queries.build"):
                    df = spec.fn(spark, self.data)
                if not spec.eager:
                    with tracer.rec.open("spark.plan"):
                        tracer.plan(df)
                with tracer.rec.open("spark.exec"):
                    self.sink(df, name)
            else:
                df = spec.fn(spark, self.data)
                self.sink(df, name)
        except Exception as exc:  # noqa: BLE001 — a failing query is counted, not fatal
            error = f"{type(exc).__name__}: {str(exc).splitlines()[0][:300] if str(exc) else ''}"
        latency = time.perf_counter() - t0
        root = tracer.rec.end_query() if tracer else None
        if error is None and not spec.eager:
            self.last_df[name] = df
        live = list(spark.streams.active)
        for q in live:
            q.stop()
        conf1, views1 = conf_text(spark), temp_views(spark)
        left = sorted(views1 - views0)
        for v in left:
            spark.catalog.dropTempView(v)
        if left:
            self.views_left[name] = self.views_left.get(name, 0) + len(left)
        if tracer:
            tracer.after_query(root, latency, len(left), self.out / name if self.w.sink == "parquet" else None)
        if error:
            self.fail(name, error)
        elif live:
            self.fail(name, f"left {len(live)} active stream(s)")
        elif conf1 != conf0:
            changed = set(conf0[8:-1].split(", ")) ^ set(conf1[8:-1].split(", "))
            self.fail(name, f"changed conf: {sorted(changed)[:6]}")
        else:
            return latency
        return None


class Tracer:
    """Wrappers and Spark readers for traced passes (see ``layers.py``)."""

    def __init__(self, spark, n_cores: int) -> None:
        import layers as tr

        self.tr = tr
        self.spark = spark
        self.n = n_cores
        self.rec = tr.SpanRecorder()
        self.loads = {"calls": 0.0, "s": 0.0}
        self.undo = None
        self.batches: list[dict] = []
        self.listener = tr.make_progress_listener(self.batches)
        self.reader = tr.SparkReader(spark)
        self.totals: dict[str, float] = {}
        self.queries = 0
        self.wall = 0.0
        self._plan: dict[str, float] = {}

    def start(self) -> None:
        """Install the wrappers and the listener for one traced pass."""
        self.undo, originals = self.tr.rebind_loads(self.rec, self.loads)
        held = self.tr.modules_holding(originals)
        if held:
            self.undo()
            raise RuntimeError(f"catalog.load still bound unwrapped in {held}")
        self.spark.streams.addListener(self.listener)

    def stop(self) -> None:
        self.undo()
        self.spark.streams.removeListener(self.listener)

    def before_query(self) -> None:
        self.reader.sync()
        self.batches.clear()
        self._plan = {}
        self._loads0 = dict(self.loads)
        self.rec.begin_query()

    def plan(self, df) -> None:
        self._plan = self.tr.plan_phases_ms(df)

    def add(self, key: str, value: float) -> None:
        self.totals[key] = self.totals.get(key, 0.0) + value

    def after_query(self, root, latency: float, views_left: int, out_path) -> None:
        spark_layers = self.reader.read()  # flushes the listener bus too
        build = next((c for c in root.children if c.name == "queries.build"), root)
        for b in self.batches:
            self.tr.attach(build, "streaming.batch", b["triggerExecution"] / 1e3)
        selfs = self.tr.self_times(root)
        self.queries += 1
        self.wall += latency
        self.add("catalog.load_calls", self.loads["calls"] - self._loads0["calls"])
        self.add("catalog.load_s", selfs.get("catalog.load", 0.0))
        self.add("queries.build_s", selfs.get("queries.build", 0.0))
        self.add("queries.views_left", views_left)
        self.add("spark.plan.probe_s", selfs.get("spark.plan", 0.0))
        self.add("spark.exec_s", selfs.get("spark.exec", 0.0))
        self.add("streaming.batch_s", selfs.get("streaming.batch", 0.0))
        self.add("harness.self_s", selfs.get("query", 0.0))
        for k in ("analysis", "optimization", "planning"):
            self.add(f"spark.plan.{k}_ms", self._plan.get(k, 0.0))
        for k, v in spark_layers.items():
            self.add(f"spark.{k}", v)
        self.add("streaming.batches", len(self.batches))
        for phase, name in (
            ("triggerExecution", "trigger_ms"), ("addBatch", "addBatch_ms"),
            ("queryPlanning", "queryPlanning_ms"), ("latestOffset", "latestOffset_ms"),
            ("walCommit", "walCommit_ms"), ("commitOffsets", "commitOffsets_ms"),
        ):
            self.add(f"streaming.{name}", sum(b[phase] for b in self.batches))
        self.add("streaming.drain_overhead_ms", sum(
            b["triggerExecution"] - b["addBatch"] for b in self.batches
        ))
        self.add("streaming.state_rows", max((b["state_rows"] for b in self.batches), default=0.0))
        self.add("streaming.state_mem_bytes", max((b["state_mem_bytes"] for b in self.batches), default=0.0))
        nbytes, nfiles = self.tr.dir_bytes(out_path) if out_path else (0, 0)
        self.add("sinks.bytes_written", nbytes)
        self.add("sinks.files_written", nfiles)

    def per_query(self) -> dict[str, float]:
        """Means per traced query execution, plus the core-busy ratio."""
        n = max(self.queries, 1)
        out = {k: v / n for k, v in self.totals.items()}
        out["spark.core_busy_frac"] = self.totals.get("spark.exec_run_s", 0.0) / max(
            self.wall * self.n, 1e-9
        )
        return out


def tail_percentile(n: int) -> int:
    """Highest whole percentile with at least 10 samples above it, but
    never below the median (small runs have fewer than 20 samples)."""
    return max(50, int(100 * (n - 10) / n)) if n > 10 else 50


def percentile(values: list[float], pct: int) -> float:
    if len(values) < 2:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[pct - 1]


def oracle_pass(runner: Runner, data_dir: Path) -> dict[str, str]:
    """Untimed: compare each query's output with its DuckDB oracle.

    Parquet workloads are checked on the files the last pass wrote; noop
    workloads collect the DataFrame the last pass built (eager specs are
    run once more).
    """
    sys.path.insert(0, str(ROOT / "tools"))
    from oracle_check import canon_rows, duckdb_conn

    con = duckdb_conn(str(data_dir))
    spark = runner.spark
    mismatches: dict[str, str] = {}
    for name in runner.w.queries:
        spec = runner.reg[name]
        runner.attempted += 1
        try:
            if runner.w.sink == "parquet":
                got = spark.read.parquet(str(runner.out / name)).toPandas()
            elif name in runner.last_df:
                got = runner.last_df[name].toPandas()
            else:
                got = spec.fn(spark, str(data_dir)).toPandas()
            for q in spark.streams.active:
                q.stop()
            if spec.oracle is None:
                ok, why = len(got) > 0, "rows-only check: no rows"
            else:
                want = con.sql(spec.oracle).df()
                if sorted(got.columns) != sorted(want.columns):
                    ok, why = False, f"columns {sorted(got.columns)} != {sorted(want.columns)}"
                elif len(got) != len(want):
                    ok, why = False, f"rows {len(got)} != {len(want)}"
                else:
                    ok, why = canon_rows(got) == canon_rows(want), "values differ"
        except Exception as exc:  # noqa: BLE001
            ok, why = False, f"{type(exc).__name__}: {str(exc).splitlines()[0][:300] if str(exc) else ''}"
        if not ok:
            mismatches[name] = why
            runner.fail(name, f"oracle: {why}")
    return mismatches


@dataclass
class Passes:
    cold: list[tuple[str, float | None]]
    cold_cpu_s: float
    cold_jit_cpu_s: float
    steady: list[list[tuple[str, float | None]]] = field(default_factory=list)
    steady_cpu_s: list[float] = field(default_factory=list)
    traced_latency_s: list[float] = field(default_factory=list)
    tracer: "Tracer | None" = None
    count: int = 0  # passes after the cold one, traced ones included


def run_passes(runner: Runner, order_rng: random.Random, seconds: float, t_run0: float,
               traced: bool, n_cores: int) -> Passes:
    """Cold pass, then whole steady passes: at least ``MIN_STEADY_PASSES``
    and until ``seconds`` have passed. Traced runs alternate untraced and
    traced passes."""

    def one_pass() -> tuple[list[tuple[str, float | None]], float, float]:
        names = list(runner.w.queries)
        order_rng.shuffle(names)
        cpu0, jit0 = tree_cpu_s(runner.jvm_pid)
        out = [(n, runner.run(n)) for n in names]
        cpu1, jit1 = tree_cpu_s(runner.jvm_pid)
        return out, cpu1 - cpu0, jit1 - jit0

    res = Passes(*one_pass())
    t0 = time.perf_counter()
    while True:
        use_trace = traced and res.count % 2 == 1
        if use_trace:
            res.tracer = res.tracer or Tracer(runner.spark, n_cores)
            res.tracer.start()
            runner.tracer = res.tracer
        try:
            result, cpu, _jit = one_pass()
        finally:
            if use_trace:
                res.tracer.stop()
                runner.tracer = None
        if use_trace:
            res.traced_latency_s += [t for _, t in result if t is not None]
        else:
            res.steady.append(result)
            res.steady_cpu_s.append(cpu)
        res.count += 1
        enough = res.count >= MIN_STEADY_PASSES and time.perf_counter() - t0 >= seconds
        if enough or time.perf_counter() - t_run0 > RUN_BUDGET_S:
            break
    return res


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_run0 = time.perf_counter()

    dirs = prepare_environment()
    data_dir = fixture_dir()
    w = WORKLOADS[args.workload]
    out_dir = Path(dirs["out"]) / w.name
    shutil.rmtree(out_dir, ignore_errors=True)
    out_dir.mkdir(parents=True)
    n = cores()

    session = Session(n, dirs)

    def deadline(_signum, _frame):
        log(f"run exceeded {RUN_DEADLINE_S}s; killing the driver JVM")
        if session.jvm_pid:
            os.kill(session.jvm_pid, signal.SIGKILL)
        os._exit(3)

    signal.signal(signal.SIGALRM, deadline)
    signal.alarm(RUN_DEADLINE_S)
    try:
        launch_s = session.launch()
        log(f"launched in {time.perf_counter() - t_run0:.1f}s")
        runner = Runner(session.spark, w, data_dir, out_dir)
        order_rng = random.Random(args.seed)
        passes = run_passes(runner, order_rng, args.seconds, t_run0, bool(args.trace), n)
        rss = session.peak_rss_mb()
        log(f"passes done at {time.perf_counter() - t_run0:.1f}s")
        mismatches = oracle_pass(runner, data_dir)
        log(f"oracle done at {time.perf_counter() - t_run0:.1f}s")
        setup = session.time_setups()
        setup["session.launch_s"] = launch_s
        log(f"set-ups {[round(x, 2) for x in setup['setup_samples_s']]} done at "
            f"{time.perf_counter() - t_run0:.1f}s")
    finally:
        session.stop()
        signal.alarm(0)

    steady, traced_lat, tracer = passes.steady, passes.traced_latency_s, passes.tracer
    ok_steady = [t for p in steady for _, t in p if t is not None]
    pass_qps = [len(ok) / sum(ok) for ok in ([t for _, t in p if t is not None] for p in steady) if ok]
    pass_cpu = [c / len(p) for p, c in zip(steady, passes.steady_cpu_s)]
    cold_ok = [t for _, t in passes.cold if t is not None]
    failed = sum(len(v) for v in runner.failures.values())
    pct = tail_percentile(len(ok_steady))
    figures = {
        "setup_s": setup["setup_s"],
        "cold_pass_cpu_s": passes.cold_cpu_s,
        "query_cpu_s": statistics.median(pass_cpu),
        "cold_pass_s": sum(cold_ok),
        "queries_per_s": statistics.median(pass_qps) if pass_qps else 0.0,
        "query_p50_s": statistics.median(ok_steady) if ok_steady else 0.0,
        "query_tail_s": percentile(ok_steady, pct) if ok_steady else 0.0,
        "jvm_peak_rss_mb": rss,
    }
    record = {
        "workload": w.name,
        "why": w.why,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "queries": list(w.queries),
        "sink": w.sink,
        "sf": SF,
        "data_seed": DATA_SEED,
        "session": {"master": f"local[{n}]", **session_conf(dirs)},
        "samples": {
            "setup": len(setup["setup_samples_s"]),
            "cold": len(cold_ok),
            "steady": len(ok_steady),
            "traced": len(traced_lat),
            "steady_passes": len(steady),
            "passes_after_cold": passes.count,
        },
        "query_tail_pct": pct,
        "cpu_s": {"cold": passes.cold_cpu_s, "steady": passes.steady_cpu_s,
                  "cold_jit": passes.cold_jit_cpu_s},
        "latency_s": {
            "cold": {q: t for q, t in passes.cold},
            "steady": [[[q, t] for q, t in p] for p in steady],
        },
        "setup_samples_s": setup["setup_samples_s"],
        "failed_frac": {"value": failed / max(runner.attempted, 1), "unit": "frac"},
        "failures": runner.failures,
        "oracle_mismatches": mismatches,
        "views_left": runner.views_left,
        "moves": {**COMMON_MOVES, **w.moves},
        "e2e": {k: {"value": v, "unit": UNITS[k]} for k, v in figures.items()},
    }
    if args.trace:
        layers = tracer.per_query() if tracer else {}
        layers.update({k: setup[k] for k in ("session.launch_s", "session.start_s", "session.python_warmup_s")})
        layers["jvm.jit_cold_cpu_s"] = passes.cold_jit_cpu_s
        layers.update({k: figures[k] for k in UNITS if k not in END_TO_END})
        untraced_qps = figures["queries_per_s"]
        traced_qps = len(traced_lat) / sum(traced_lat) if traced_lat else 0.0
        layers["trace.queries_per_s"] = traced_qps
        layers["trace.untraced_queries_per_s"] = untraced_qps
        layers["trace.overhead_frac"] = 1.0 - traced_qps / untraced_qps if untraced_qps else 0.0
        metrics = {m["name"]: {"value": layers.get(m["name"], 0.0), "unit": m["unit"]} for m in PER_LAYER}
        record["per_layer"] = metrics
    else:
        metrics = {k: record["e2e"][k] for k in END_TO_END}
    line = json.dumps(record, sort_keys=True)
    log(f"record {line}")
    (Path(dirs["records"]) / f"{w.name}-seed{args.seed}-trace{args.trace}.json").write_text(line + "\n")
    print(json.dumps({
        "correct": not runner.failures,
        "attempted": runner.attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
