"""The repository's benchmark: seeded daily-ELT workloads, one command.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Runs from the root of a checkout on ``local[<cores>]``, one driver
process, closed loop: each operation starts when the previous one
returns. An operation is one catalog query (build + full-evaluation
hash action) or one day of the ingest feed (fetch, parse, merge,
overwrite).

A run is: start the session, one untimed pass that also checks every
output (its time counts in ``setup_s``), then whole timed passes until
``--seconds`` is used up. Each pass runs in a fresh
``spark.newSession()``, so no per-session memo carries work from one
pass to the next. With ``--trace 1`` each round of timed passes is
untraced, traced, traced, untraced, and the run reports per-layer
numbers from the traced passes plus the tracing overhead.

The bounded metrics are CPU times, not wall times: ``pass_cpu_s`` is
the CPU time the program spends in one timed pass (median over passes)
and ``setup_s`` the CPU time of the set-up. On a shared VM the wall
time moves with the time the hypervisor gives to other guests. The
wall times are printed on the summary lines, and a traced run reports
the pass wall time as ``bench.pass_wall_s``.

The last line of stdout is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``. See perfbench/README.md.
"""

from __future__ import annotations

import time

_T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
from statistics import median  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(HERE, "data", "sf0.01")
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
sys.path.insert(1, ROOT)

import spans as sp  # noqa: E402
from payloads import LoadModel, Feed, feed_items, make_feed  # noqa: E402

MARTS = [
    "core_sales_daily",
    "smartstore_sales_daily",
    "stock_report",
    "scd2_effective_revenue",
]
INGEST = {"days": 3, "orders_per_day": 1500, "page_size": 300}
WORKLOADS = ("marts_refresh", "ingest_load")

END_TO_END = {"setup_s": "s", "pass_cpu_s": "s"}
PER_LAYER = {
    "session.start_s": "s",
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    "spark.plan_s": "s",
    "spark.action_s": "s",
    "spark.action_jobs": "count",
    "spark.action_stages": "count",
    "spark.action_tasks": "count",
    "spark.persisted_rdds": "count",
    "sources.fetch_s": "s",
    "sources.pages": "count",
    "models.parse_s": "s",
    "models.rows_out": "count",
    "writers.merge_s": "s",
    "writers.overwrite_s": "s",
    "writers.written_bytes": "bytes",
    "writers.files_written": "count",
    "writers.written_bytes_per_input_byte": "ratio",
    "bench.uncovered_s": "s",
    "bench.pass_wall_s": "s",
    "trace.overhead_s": "s",
}
# span name -> per-layer metric its self time feeds
SPAN_METRIC = {
    "queries.build": "queries.build_s",
    "spark.plan": "spark.plan_s",
    "spark.action": "spark.action_s",
    "sources.fetch": "sources.fetch_s",
    "models.parse": "models.parse_s",
    "writers.merge": "writers.merge_s",
    "writers.overwrite": "writers.overwrite_s",
    "op": "bench.uncovered_s",
}


class Failed(Exception):
    """An operation returned a wrong result."""


def _configure_env(work: str, cores: int) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    # The library's 8g default heap lets the JVM hold ~7 GB of garbage on
    # sf0.01; 2g runs the same passes as fast and keeps a run small.
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    # a fixed set of JIT compiler threads, so their CPU time can be left out
    opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads"
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        x for x in (os.environ.get("JAVA_TOOL_OPTIONS"), opts) if x
    )


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _host_cpu() -> tuple[int, int]:
    """(steal, total) CPU ticks of the host so far: steal is time the
    hypervisor ran other guests while this one wanted the CPU."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    return ticks[7], sum(ticks)


_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat_cpu_s(path: str, reaped: bool) -> float:
    """User + system CPU seconds from a /proc ``stat`` file; with
    ``reaped``, those of its waited-for children too."""
    with open(path) as f:
        v = f.read().rsplit(")", 1)[1].split()
    ticks = int(v[11]) + int(v[12]) + (int(v[13]) + int(v[14]) if reaped else 0)
    return ticks / _CLK_TCK


def _descendants(pid: int) -> list[int]:
    """Every process below ``pid`` (children of any of its threads)."""
    out = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                kids = [int(k) for k in f.read().split()]
        except OSError:
            continue
        for k in kids:
            out += [k, *_descendants(k)]
    return out


def _wait_ended(pids: list[int], timeout: float) -> None:
    """Wait until none of ``pids`` is running (gone or a zombie)."""
    deadline = time.monotonic() + timeout
    for pid in pids:
        while time.monotonic() < deadline:
            try:
                with open(f"/proc/{pid}/stat") as f:
                    if f.read().rsplit(")", 1)[1].split()[0] == "Z":
                        break
            except OSError:
                break
            time.sleep(0.05)


class Bench:
    def __init__(self, workload: str, seed: int, seconds: int, trace: bool, work: str):
        self.workload = workload
        self.seconds = seconds
        self.trace = trace
        self.work = work
        self.rng = random.Random(seed)
        self.seed = seed
        self.tracers: list[sp.Tracer] = []
        self.attempted = 0
        self.failed = 0
        self.op_seconds: list[float] = []
        self.pass_seconds: dict[bool, list[float]] = {False: [], True: []}
        self.pass_cpu_seconds: list[float] = []
        self.layer_passes: list[dict[str, float]] = []
        self.expected: dict[str, int | None] = {}
        self.n_ops = 0

    # -- session ---------------------------------------------------------
    def start(self) -> None:
        from linkmerce_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(
            "perfbench",
            master=f"local[{os.environ['SPARK_GRAFT_CPUS']}]",
            extra_conf={"spark.ui.showConsoleProgress": "false"},
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.session_start_s = time.perf_counter() - t0
        self.sc = self.spark.sparkContext

    def stop(self) -> None:
        """Stop Spark and wait for the driver JVM and its Python workers
        to end; each exits when its stdin pipe closes."""
        gateway = self.spark.sparkContext._gateway
        proc = gateway.proc
        workers = _descendants(proc.pid)
        self.spark.stop()
        gateway.shutdown()
        proc.stdin.close()
        proc.wait(timeout=60)
        _wait_ended(workers, timeout=60)

    def cpu_s(self) -> float:
        """CPU seconds the program has used so far: this process, the
        driver JVM and its Python workers, less the JVM's JIT compiler
        threads. Unlike wall time, it leaves out the time the hypervisor
        gives to other guests (their load still slows it somewhat);
        compiling is warm-up whose amount differs from run to run."""
        jvm = self.sc._gateway.proc.pid
        total = 0.0
        for pid in (os.getpid(), jvm, *_descendants(jvm)):
            try:
                total += _stat_cpu_s(f"/proc/{pid}/stat", reaped=True)
            except OSError:  # a worker that ended meanwhile
                pass
        for tid in os.listdir(f"/proc/{jvm}/task"):
            try:
                with open(f"/proc/{jvm}/task/{tid}/comm") as f:
                    # "C1 CompilerThread0", cut to 15 characters
                    if "CompilerThre" in f.read():
                        total -= _stat_cpu_s(f"/proc/{jvm}/task/{tid}/stat", reaped=False)
            except OSError:
                pass
        return total

    def peak_rss_mb(self) -> float:
        jvm = self.sc._gateway.proc.pid
        return (_vm_hwm_kb(os.getpid()) + _vm_hwm_kb(jvm)) / 1024.0

    # -- one pass ----------------------------------------------------------
    def run_pass(self, traced: bool, timed: bool, check: bool) -> None:
        tracer = sp.Tracer(enabled=traced)
        session = self.spark.newSession()
        cpu0 = self.cpu_s()
        t0 = time.perf_counter()
        if self.workload == "ingest_load":
            wh = os.path.join(self.work, f"warehouse{self.n_ops}")
            lat, groups, loaded = self._ingest_pass(session, tracer, wh)
            wall = time.perf_counter() - t0
            cpu = self.cpu_s() - cpu0
            # every pass is checked, outside the clock: the check reads only the written files
            attempted = len(self.feed.days)
            bad = 0 if self._check_warehouse(wh, loaded) else attempted
        else:
            lat, bad, groups = self._query_pass(session, tracer, check)
            wall = time.perf_counter() - t0
            cpu = self.cpu_s() - cpu0
            attempted = len(groups)
        if timed:
            self.pass_seconds[traced].append(wall)
            self.attempted += attempted
            self.failed += bad
            if not traced:
                self.op_seconds += lat
                self.pass_cpu_seconds.append(cpu)
        if traced:
            self.layer_passes.append(self._layer_totals(tracer, groups))
            self.tracers.append(tracer)

    def _op_id(self, what: str) -> str:
        """A run-unique operation id that names the query or day."""
        self.n_ops += 1
        return f"op{self.n_ops}:{what}"

    # -- catalog query workloads ------------------------------------------
    def _query_pass(self, session, tracer, check):
        from linkmerce_spark.queries import QUERIES

        order = self.rng.sample(MARTS, len(MARTS))
        lat, bad, groups = [], 0, []
        for name in order:
            op = self._op_id(name)
            groups.append(op)
            t0 = time.perf_counter()
            try:
                with tracer.span("op", op):
                    self._job_group(tracer, f"{op}/build", name)
                    with tracer.span("queries.build", op):
                        df = QUERIES[name](session, DATA)
                    if check:
                        # the checked rows and the checked hash come from one execution
                        df = df.persist()
                        ok = self._check_query(name, df)
                    hashed = _hash_frame(df)
                    self._job_group(tracer, f"{op}/action", name)
                    with tracer.span("spark.plan", op):
                        hashed._jdf.queryExecution().executedPlan()
                    with tracer.span("spark.action", op):
                        h = hashed.collect()[0][0]
                lat.append(time.perf_counter() - t0)
                if check:
                    df.unpersist()
                    self.expected[name] = h if ok else None
                if self.expected.get(name) is None or h != self.expected[name]:
                    raise Failed(f"{name}: hash {h} != checked {self.expected.get(name)}")
            except Exception as e:  # noqa: BLE001 — count it and keep the loop going
                if len(lat) < len(groups):
                    lat.append(time.perf_counter() - t0)
                bad += 1
                print(f"FAILED {name}: {type(e).__name__}: {str(e)[:300]}", file=sys.stderr)
        return lat, bad, groups

    def _check_query(self, name: str, df) -> bool:
        """Compare the Spark rows with the query's DuckDB twin."""
        from linkmerce_spark.oracles import ORACLES
        from tools.check_oracle import canon_rows

        spark_rows = [tuple(r) for r in df.collect()]
        res = self.duck.execute(ORACLES[name])
        duck_cols = [d[0] for d in res.description]
        ok = canon_rows(df.columns, spark_rows) == canon_rows(duck_cols, res.fetchall())
        if not ok:
            print(f"CHECK FAILED {name}: differs from its DuckDB twin", file=sys.stderr)
        return ok

    def _job_group(self, tracer, group: str, name: str) -> None:
        if tracer.enabled:
            self.sc.setJobGroup(group, name)

    # -- ingest workload ---------------------------------------------------
    def _ingest_pass(self, session, tracer, wh: str):
        """One load of the whole feed into the fresh warehouse ``wh``:
        (latencies, job groups, whether every day loaded)."""
        from linkmerce_spark.sources.endpoints import SmartstoreOrderApi

        api = SmartstoreOrderApi(_feed_transport(self.feed), "perfbench", "unused")
        orders_path, events_path = os.path.join(wh, "orders"), os.path.join(wh, "events")
        lat, groups = [], []
        try:
            self._load_days(session, tracer, api, orders_path, events_path, lat, groups)
            return lat, groups, True
        except Exception as e:  # noqa: BLE001 — a broken load fails every day of the pass
            print(f"FAILED ingest_load: {type(e).__name__}: {str(e)[:300]}", file=sys.stderr)
            return lat, groups, False

    def _load_days(self, session, tracer, api, orders_path, events_path, lat, groups) -> None:
        from pyspark.sql import functions as F

        from linkmerce_spark.models.orderpipe import PK, parse_orders, status_events
        from linkmerce_spark.sources.writers import write_merge, write_overwrite_where

        for day in self.feed.days:
            op = self._op_id(day)
            groups.append(op)
            t0 = time.perf_counter()
            with tracer.span("op", op):
                self._job_group(tracer, f"{op}/action", day)
                with tracer.span("sources.fetch", op):
                    pages = list(api.fetch_orders(day))
                items = [it for p in pages for it in p["data"]["contents"]]
                with tracer.span("models.parse", op):
                    batch = parse_orders(session, items)
                    events = status_events(batch).withColumn("ymd", F.lit(day))
                with tracer.span("writers.merge", op):
                    before = _files(orders_path) if tracer.enabled else None
                    write_merge(batch.drop("seq"), orders_path, keys=list(PK))
                    self._count_written(tracer, orders_path, before)
                with tracer.span("writers.overwrite", op):
                    before = _files(events_path) if tracer.enabled else None
                    write_overwrite_where(events, events_path, partition_by=["ymd"])
                    self._count_written(tracer, events_path, before)
            lat.append(time.perf_counter() - t0)
            tracer.count("sources.pages", len(pages))
            tracer.count("models.rows_out", len(items))

    def _count_written(self, tracer, path: str, before) -> None:
        if before is None:
            return
        after = _files(path)
        new = [v for k, v in after.items() if before.get(k) != v]
        tracer.count("writers.written_bytes", sum(size for size, _ in new))
        tracer.count("writers.files_written", len(new))

    def _check_warehouse(self, wh: str, loaded: bool) -> bool:
        """Final tables against the plain-Python load of the same pages;
        records the stored-bytes ratio and removes the warehouse."""
        self.stored_per_input = sum(size for size, _ in _files(wh).values()) / self.feed.payload_bytes
        try:
            return loaded and self._warehouse_matches(os.path.join(wh, "orders"), os.path.join(wh, "events"))
        finally:
            shutil.rmtree(wh, ignore_errors=True)

    def _warehouse_matches(self, orders_path: str, events_path: str) -> bool:
        orders = self.duck.execute(
            "SELECT order_id, channel_seq, status_code, amount, "
            "ordered_at::TIMESTAMP, payed_at::TIMESTAMP, delivered_at::TIMESTAMP "
            f"FROM read_parquet('{orders_path}/*.parquet')"
        ).fetchall()
        events = self.duck.execute(
            "SELECT order_id, channel_seq, status_code, event_time::TIMESTAMP, ymd::VARCHAR "
            f"FROM read_parquet('{events_path}/*/*.parquet', hive_partitioning = true)"
        ).fetchall()
        ok = (
            sorted(orders, key=repr) == self.model.orders_rows()
            and sorted(events, key=repr) == self.model.events_rows()
        )
        if not ok:
            print("CHECK FAILED ingest_load: warehouse differs from the Python load", file=sys.stderr)
        return ok

    # -- per-layer numbers ---------------------------------------------------
    def _layer_totals(self, tracer, groups) -> dict[str, float]:
        totals = {m: 0.0 for m in PER_LAYER}
        by_name = sp.self_time_by(tracer.spans, lambda s: s.name)
        for name, secs in by_name.items():
            totals[SPAN_METRIC[name]] += secs
        for name, n in tracer.counters.items():
            totals[name] += n
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()  # job counts are posted asynchronously
        st = self.sc.statusTracker()
        for op in groups:
            totals["queries.build_jobs"] += _group_counts(st, f"{op}/build")[0]
            jobs, stages, tasks = _group_counts(st, f"{op}/action")
            totals["spark.action_jobs"] += jobs
            totals["spark.action_stages"] += stages
            totals["spark.action_tasks"] += tasks
        totals["spark.persisted_rdds"] = float(self.sc._jsc.getPersistentRDDs().size())
        if self.workload == "ingest_load":
            totals["writers.written_bytes_per_input_byte"] = (
                totals["writers.written_bytes"] / self.feed.payload_bytes
            )
        return totals

    # -- the run ---------------------------------------------------------------
    def setup(self) -> None:
        import duckdb

        self.duck = duckdb.connect()
        self.duck.execute("SET TimeZone = 'UTC'")
        self.duck.execute(f"SET temp_directory = '{os.path.join(self.work, 'duck')}'")
        if self.workload == "ingest_load":
            self.feed = make_feed(self.seed, **INGEST)
            self.model = LoadModel()
            for day in self.feed.days:
                self.model.load_day(day, feed_items(self.feed, day))
        else:
            from linkmerce_spark.frames import STAR_TABLES

            for t in STAR_TABLES:
                self.duck.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{DATA}/{t}.parquet')"
                )
        self.start()
        self.run_pass(traced=False, timed=False, check=True)
        self.setup_wall_s = time.perf_counter() - _T_START
        self.setup_cpu_s = self.cpu_s()

    def measure(self) -> None:
        """Whole rounds of passes until ``--seconds`` have been measured.
        A traced round is untraced, traced, traced, untraced, so the
        JVM's warming over the round does not bias the tracing
        overhead."""
        rounds = (False, True, True, False) if self.trace else (False,)
        cpu0 = _host_cpu()
        t0 = time.perf_counter()
        while time.perf_counter() - t0 < self.seconds:
            for traced in rounds:
                self.run_pass(traced=traced, timed=True, check=False)
        cpu1 = _host_cpu()
        self.steal_share = (cpu1[0] - cpu0[0]) / max(1, cpu1[1] - cpu0[1])
        self.peak_rss = self.peak_rss_mb()

    def metrics(self) -> dict[str, float]:
        if not self.trace:
            return {"setup_s": self.setup_cpu_s, "pass_cpu_s": median(self.pass_cpu_seconds)}
        out = {m: median([p[m] for p in self.layer_passes]) for m in PER_LAYER}
        out["session.start_s"] = self.session_start_s
        out["bench.pass_wall_s"] = median(self.pass_seconds[False])
        out["trace.overhead_s"] = median(self.pass_seconds[True]) - median(self.pass_seconds[False])
        return out

    def summary(self) -> str:
        n = len(self.op_seconds)
        pct = sp.tail_percentile(n)
        tail = (
            f"op_p{pct:.1f}_s = {sp.percentile(self.op_seconds, pct):.4f}"
            if pct is not None and pct > 50
            else "no percentile above the median has 10 samples beyond it"
        )
        lines = [
            f"workload={self.workload} seed={self.seed} trace={int(self.trace)} "
            f"passes={len(self.pass_seconds[False])} attempted={self.attempted} failed={self.failed} "
            f"failed_op_ratio={sp.failed_op_ratio(self.attempted, self.failed):.4f}",
            f"  setup_wall_s = {self.setup_wall_s:.4f}; setup_cpu_s = {self.setup_cpu_s:.4f}",
            f"  pass_wall_s = {median(self.pass_seconds[False]):.4f} "
            f"(untraced passes: {', '.join(f'{x:.2f}' for x in self.pass_seconds[False])}); "
            f"pass_cpu_s per pass: {', '.join(f'{x:.2f}' for x in self.pass_cpu_seconds)}",
            f"  op_p50_s = {median(self.op_seconds):.4f} over {n} untraced ops; {tail}",
            f"  peak_rss_mb = {self.peak_rss:.1f} (driver JVM + Python)",
            f"  host_steal_share = {self.steal_share:.3f} of CPU time during the timed passes",
        ]
        if self.workload == "ingest_load":
            lines.append(f"  stored_bytes_per_input_byte = {self.stored_per_input:.4f}")
        return "\n".join(lines)


def _hash_frame(df):
    """SUM(xxhash64(every column)) as a one-row frame: the full result is
    evaluated engine-side (map columns hash through their JSON form)."""
    from pyspark.sql import functions as F

    cols = [
        F.to_json(F.col(f.name)) if "map<" in f.dataType.simpleString() else F.col(f.name)
        for f in df.schema.fields
    ]
    return df.select(F.xxhash64(*cols).alias("__h")).agg(F.sum("__h").alias("h"))


def _group_counts(st, group: str) -> tuple[int, int, int]:
    """(jobs, stages that ran, tasks of those stages) of one job group."""
    jobs = st.getJobIdsForGroup(group)
    stage_ids = set()
    for j in jobs:
        info = st.getJobInfo(j)
        if info is not None:
            stage_ids.update(info.stageIds)
    stages = tasks = 0
    for sid in stage_ids:
        info = st.getStageInfo(sid)
        if info is not None and info.numCompletedTasks > 0:  # skipped stages ran no task
            stages += 1
            tasks += info.numCompletedTasks
    return len(jobs), stages, tasks


def _files(path: str) -> dict[str, tuple[int, int]]:
    """Parquet files under ``path``: name -> (size, mtime_ns)."""
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                st = os.stat(os.path.join(root, f))
                out[os.path.join(root, f)] = (st.st_size, st.st_mtime_ns)
    return out


def _feed_transport(feed: Feed):
    """An in-memory order API: serves the feed's pages by (day, page)."""
    from linkmerce_spark.sources.http import Response

    def send(req):
        key = (req.params["from"][:10], int(req.params["page"]))
        body = feed.pages.get(key)
        if body is None:
            return Response(404, b'{"code": "NOT_FOUND", "message": "no such page"}')
        return Response(200, body)

    return send


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    work = os.path.join(WORK_ROOT, f"run-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    cores = len(os.sched_getaffinity(0))
    _configure_env(work, cores)
    bench = Bench(args.workload, args.seed, args.seconds, bool(args.trace), work)
    try:
        bench.setup()
        bench.measure()
        metrics = bench.metrics()
        summary = bench.summary()
    finally:
        if hasattr(bench, "spark"):
            bench.stop()
        shutil.rmtree(work, ignore_errors=True)
    units = PER_LAYER if args.trace else END_TO_END
    print(summary)
    if args.trace:
        path = os.path.join(WORK_ROOT, f"trace-{args.workload}-seed{args.seed}.jsonl")
        with open(path, "w") as f:
            for i, tracer in enumerate(bench.tracers, 1):
                tracer.dump(f, i)
        print(f"  spans: {os.path.relpath(path, ROOT)}")
    print(json.dumps({
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
