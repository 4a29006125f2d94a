"""The measured process: one closed-loop client on ``local[nproc]``.

Started by ``run.py`` with the environment already pinned; writes one
JSON result file and exits.  Phases:

1. set-up, from process start: a SparkSession from ``get_spark`` (which
   launches the JVM), the catalog through ``Engine`` (``register_all``),
   the on-disk fixture digest check (the workload's fixture rows are
   built once) and a warm-up query.  Each run pays it cold, as a user
   starting the engine does.
2. an untimed warm pass over the workload's inputs.
3. timed rounds, each one input list (see ``timed_rounds``).  Each input
   is built through a public entry point and run by a sink that computes
   every output column.  Its result is left on disk for ``run.py``,
   which checks it against DuckDB after this process has exited.

With ``--trace 1`` the session writes Spark's event log, and the
per-layer metrics of the reported rounds come from that log, the
QueryExecution phase tracker, the JVM's memory pools and the spans this
file records.
"""

from __future__ import annotations

import argparse
import json
import os
import pickle
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import layers  # noqa: E402
import workloads as W  # noqa: E402

NCPU = len(os.sched_getaffinity(0))
WARMUP_ROW = "ref_q1_point_select"
CONF_KEYS = (
    "spark.master",
    "spark.driver.memory",
    "spark.default.parallelism",
    "spark.sql.shuffle.partitions",
    "spark.sql.adaptive.enabled",
    "spark.sql.adaptive.coalescePartitions.enabled",
    "spark.sql.adaptive.coalescePartitions.parallelismFirst",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes",
    "spark.sql.adaptive.skewJoin.enabled",
    "spark.sql.autoBroadcastJoinThreshold",
    "spark.sql.execution.arrow.maxRecordsPerBatch",
)


def collect_sink(df, out_path=None):
    """The timed action of the collect workloads: every output column is
    computed and returned (a ``.count()`` would let Catalyst prune them)."""
    return df.columns, df.collect()


def parquet_sink(df, out_path):
    """The timed action of ``crawl_ingest_write``: ``sinks.write_parquet``."""
    from sql_query_engine_spark.sources import sinks

    sinks.write_parquet(df, out_path)
    return None


SINKS = {"collect": collect_sink, "parquet": parquet_sink}


def bench_conf() -> dict[str, str]:
    """Session settings of the benchmark itself, not of the engine: no
    progress bar, and the JVM keeps its temporary files in the run's
    ``TMPDIR`` instead of ``/tmp``."""
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.environ.get('TMPDIR', '/tmp')} -XX:-UsePerfData",
    }


def catalyst_phases(df) -> dict[str, float]:
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        if opt.isDefined():
            out[name] = opt.get().durationMs() / 1e3
    return out


class Client:
    def __init__(self, args):
        self.args = args
        self.w = W.WORKLOADS[args.workload]
        self.work = args.work
        self.data_dir = self.w.data_dir
        self.out_dir = args.out
        self.spans = layers.Spans()
        self.checks: list[dict] = []  # every timed result, for run.py to check
        self.failures: list[str] = []
        self.attempted = 0
        self.spark = None
        self.trace = bool(args.trace)
        self._stream = None

    # -- set-up --------------------------------------------------------
    def start_session(self, event_log_dir: str | None = None):
        from sql_query_engine_spark import get_spark

        conf = bench_conf()
        if event_log_dir:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        spark = get_spark("perfbench", extra_conf=conf)
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    def setup(self, event_log_dir: str | None = None) -> dict:
        from sql_query_engine_spark import Engine, queries

        t_start = layers.process_start_time()
        top = self.spans.open("setup")
        s = self.spans.open("session.get_spark")
        self.spark = self.start_session(event_log_dir)
        t_session = self.spans.close(s)
        sc = self.spark.sparkContext
        sc.setJobGroup("setup|0|register", "catalog registration")
        s = self.spans.open("catalog.register")
        self.engine = Engine(self.spark, self.data_dir)
        t_register = self.spans.close(s)
        register_jobs = len(sc.statusTracker().getJobIdsForGroup("setup|0|register"))
        sc.setJobGroup("setup|0|fixtures", "fixture digest check")
        s = self.spans.open("fixtures.check")
        qs = queries()
        for row in self.w.fixture_rows:
            qs[row](self.spark, self.data_dir)
        t_fixtures = self.spans.close(s)
        sc.setJobGroup("setup|0|warmup", "warm-up")
        s = self.spans.open("warmup")
        qs[WARMUP_ROW](self.spark, self.data_dir).collect()
        self.spans.close(s)
        sc.setJobGroup("idle|0|idle", "between inputs")
        self.spans.close(top)
        return {
            "setup_s": time.time() - t_start,
            "get_spark_s": t_session,
            "register_s": t_register,
            "register_jobs": register_jobs,
            "fixtures_s": t_fixtures,
        }

    # -- one timed input -------------------------------------------------
    def one(self, qid, n_round, build, kind, oracle_sql, rec):
        """Build and run one input, and leave its result for the check;
        appends to ``rec`` when it ran.  Its Spark jobs run under the job
        groups ``<qid>|<round>|<phase>``."""
        sc = self.spark.sparkContext
        sink = SINKS[self.w.sink]
        out_path = os.path.join(self.out_dir, f"{qid}-{n_round}")
        self.attempted += 1
        top = self.spans.open("query", qid)
        cpu0 = layers.tree_cpu_s()
        try:
            sc.setJobGroup(f"{qid}|{n_round}|build", qid)
            s = self.spans.open(kind, qid)
            t0 = time.perf_counter()
            df = build()
            t1 = time.perf_counter()
            self.spans.close(s)
            sc.setJobGroup(f"{qid}|{n_round}|exec", qid)
            s = self.spans.open("sinks.write_parquet" if self.w.sink == "parquet" else "exec", qid)
            got = sink(df, out_path)
            t2 = time.perf_counter()
            self.spans.close(s)
        except Exception as e:  # an engine failure counts, it does not end the run
            self.spans.close(top, unwind=True)
            self.failures.append(f"{qid}: {type(e).__name__}: {str(e)[:200]}")
            traceback.print_exc(limit=2, file=sys.stderr)
            return
        cpu = layers.tree_cpu_s() - cpu0
        entry = {"qid": qid, "round": n_round, "kind": kind, "build_s": t1 - t0,
                 "exec_s": t2 - t1, "latency_s": t2 - t0, "cpu_s": cpu}
        if self.trace:
            sc.setJobGroup(f"{qid}|{n_round}|plan", qid)
            s = self.spans.open("plan", qid)
            df._jdf.queryExecution().executedPlan()
            entry["catalyst"] = catalyst_phases(df)
            self.spans.close(s)
        s = self.spans.open("save", qid)
        if got is None:
            entry["files"] = sum(1 for f in os.listdir(out_path) if f.endswith(".parquet"))
        else:
            cols, rows = got
            entry["rows"] = len(rows)
            out_path += ".pkl"
            with open(out_path, "wb") as f:
                pickle.dump((cols, [tuple(r) for r in rows]), f)
        self.checks.append({"qid": qid, "sql": oracle_sql, "result": out_path})
        sc.setJobGroup("idle|0|idle", "between inputs")
        self.spans.close(s)
        self.spans.close(top)
        rec.append(entry)

    # -- the timed phase -------------------------------------------------
    def inputs(self, seed: int, n_round: int | None = None):
        """(qid, build, kind, oracle SQL) of one round: for the ad-hoc
        workload the next block of the seeded stream, for a batch workload
        every row in seeded order."""
        if self.w is W.ADHOC:
            eng = self.engine
            if self._stream is None:
                self._stream = W.adhoc_stream(seed)
            n = self.w.warm_len if n_round is None else W.BLOCK
            for _ in range(n):
                q = next(self._stream)
                if q.form == "sql":
                    yield q.qid, (lambda q=q: eng.sql(q.sql)), "sql.build", q.sql
                else:
                    yield q.qid, (lambda q=q: eng.ra(q.ra)), "ra.run_ra", q.sql
            return
        from sql_query_engine_spark import oracle_sql, queries

        qs, osql = queries(), oracle_sql()
        for row in W.pass_order(self.w, seed):
            yield row, (lambda row=row: qs[row](self.spark, self.data_dir)), "queries.build", osql[row]

    def warm_pass(self) -> None:
        """Untimed and unchecked: the first run of every code path the
        rounds take (JIT, Python workers, the fixtures' page cache)."""
        sc = self.spark.sparkContext
        sc.setJobGroup("warm|0|exec", "warm pass")
        s = self.spans.open("warm_pass")
        self._stream = None
        for qid, build, _, _ in self.inputs(self.args.seed + 1_000_003):
            SINKS[self.w.sink](build(), os.path.join(self.out_dir, "warm"))
        shutil.rmtree(os.path.join(self.out_dir, "warm"), ignore_errors=True)
        self._stream = None
        self.spans.close(s)

    def timed_rounds(self) -> tuple[list[dict], list[float], list[float]]:
        """Rounds of the input list, until the workload's ``rounds`` rounds
        ran and ``--seconds`` have passed.  Returns every round's inputs,
        wall-clock times (the closed loop: build, run and saving each
        result) and the share of the machine's CPU time the hypervisor
        withheld during it (a diagnostic of the host, in the report)."""
        rec: list[dict] = []
        walls: list[float] = []
        steal: list[float] = []
        t0 = time.perf_counter()
        while len(walls) < self.w.rounds or time.perf_counter() - t0 < self.args.seconds:
            steal0, w0 = layers.steal_s(), time.perf_counter()
            for qid, build, kind, sql in self.inputs(self.args.seed, len(walls)):
                self.one(qid, len(walls), build, kind, sql, rec)
            walls.append(time.perf_counter() - w0)
            steal.append((layers.steal_s() - steal0) / (walls[-1] * NCPU))
        return rec, walls, steal

    @staticmethod
    def e2e(rec: list[dict], walls: list[float], setup: dict) -> dict:
        """End-to-end metrics of the reported rounds."""
        lat = [r["latency_s"] for r in rec]
        if not lat:
            raise RuntimeError("no input completed")
        q = statistics.quantiles(lat, n=10, method="inclusive")
        return {
            "setup_s": (setup["setup_s"], "s"),
            "wall_s": (sum(lat) / len(walls), "s"),
            "latency_p50_s": (statistics.median(lat), "s"),
            "latency_p90_s": (q[8], "s"),
            "queries_per_s": (len(lat) / sum(walls), "1/s"),
            "cpu_s": (sum(r["cpu_s"] for r in rec) / len(walls), "s"),
            "peak_rss_mb": (layers.peak_rss_mb(), "MB"),
        }

    # -- per-layer ---------------------------------------------------------
    def per_layer(self, rec, groups, setup, heap_mb) -> dict:
        n = max(1, len(rec))
        by_phase: dict[str, dict] = {}
        chosen = {f"{r['qid']}|{r['round']}" for r in rec}
        for g, m in groups.items():
            key, phase = g.rsplit("|", 1)
            if key not in chosen:
                continue
            acc = by_phase.setdefault(phase, {})
            for k, v in m.items():
                acc[k] = acc.get(k, 0.0) + v
        build, exe = by_phase.get("build", {}), by_phase.get("exec", {})

        def work(k):  # task work of the public call: DataFrame build + action
            return (build.get(k, 0.0) + exe.get(k, 0.0)) / n

        def mean_kind(kind, key):
            v = [r[key] for r in rec if r["kind"] == kind]
            return statistics.fmean(v) if v else 0.0

        def mean_catalyst(phase):
            v = [r["catalyst"].get(phase, 0.0) for r in rec if "catalyst" in r]
            return statistics.fmean(v) if v else 0.0

        # result rows: collected, or written by the parquet sink
        rows_out = sum(r.get("rows", 0) for r in rec) + exe.get("output_rows", 0.0)
        sink_rec = [r for r in rec if "files" in r]
        m = {
            "session.get_spark_s": (setup["get_spark_s"], "s"),
            "catalog.register_s": (setup["register_s"], "s"),
            "catalog.jobs": (setup["register_jobs"], "count"),
            "fixtures.check_s": (setup["fixtures_s"], "s"),
            "ra.run_ra_s": (mean_kind("ra.run_ra", "build_s"), "s"),
            "sql.build_s": (mean_kind("sql.build", "build_s"), "s"),
            "catalyst.analysis_s": (mean_catalyst("analysis"), "s"),
            "catalyst.optimization_s": (mean_catalyst("optimization"), "s"),
            "catalyst.planning_s": (mean_catalyst("planning"), "s"),
            "queries.build_s": (mean_kind("queries.build", "build_s"), "s"),
            "queries.build_jobs": (build.get("jobs", 0.0) / n, "count"),
            "exec.jobs": (exe.get("jobs", 0.0) / n, "count"),
            "exec.stages": (exe.get("stages", 0.0) / n, "count"),
            "exec.tasks": (exe.get("tasks", 0.0) / n, "count"),
            "exec.scheduler_delay_s": (exe.get("scheduler_delay_s", 0.0) / n, "s"),
            "exec.task_run_s": (work("task_run_s"), "s"),
            "exec.task_cpu_s": (work("task_cpu_s"), "s"),
            "exec.gc_s": (work("gc_s"), "s"),
            "shuffle.write_bytes": (work("shuffle_write_bytes"), "bytes"),
            "shuffle.read_bytes": (work("shuffle_read_bytes"), "bytes"),
            "shuffle.fetch_wait_s": (work("shuffle_fetch_wait_s"), "s"),
            "shuffle.spill_bytes": (work("spill_bytes"), "bytes"),
            "python.boot_s": (work("python.boot_s"), "s"),
            "python.init_s": (work("python.init_s"), "s"),
            "python.run_s": (work("python.run_s"), "s"),
            "python.bytes_in": (work("python.bytes_in"), "bytes"),
            "python.bytes_out": (work("python.bytes_out"), "bytes"),
            "scan.bytes_read": (work("scan_bytes"), "bytes"),
            "scan.rows_read": (work("scan_rows"), "count"),
            "scan.rows_per_result_row": (work("scan_rows") * n / max(1, rows_out), "ratio"),
            "sinks.write_s": (sum(r["exec_s"] for r in sink_rec) / n, "s"),
            "sinks.bytes_written": (exe.get("output_bytes", 0.0) / n, "bytes"),
            "sinks.files_written": (sum(r["files"] for r in sink_rec) / n, "count"),
            "jvm.heap_peak_mb": (heap_mb, "MB"),
        }
        return m

    # -- the run ---------------------------------------------------------------
    def heap_pools(self):
        mf = self.spark.sparkContext._jvm.java.lang.management.ManagementFactory
        return [p for p in mf.getMemoryPoolMXBeans() if p.getType().toString() == "Heap memory"]

    def run(self) -> dict:
        log_dir = None
        if self.trace:
            log_dir = os.path.join(self.work, "trace", f"eventlog-{os.getpid()}")
            os.makedirs(log_dir, exist_ok=True)
        setup = self.setup(log_dir)
        conf = {k: self.spark.conf.get(k, None) for k in CONF_KEYS}
        os.makedirs(self.out_dir, exist_ok=True)
        self.warm_pass()
        if self.trace:
            pools = self.heap_pools()
            for p in pools:
                p.resetPeakUsage()
        rec, walls, steal = self.timed_rounds()
        metrics = self.e2e(rec, walls, setup)
        report = {"spark_conf": conf, "inputs": len(rec), "round_steal_frac": steal,
                  "latency_s": {f"{r['qid']}|{r['round']}": round(r["latency_s"], 4) for r in rec}}
        wall_s = metrics["wall_s"][0]
        if self.trace:
            heap_mb = sum(p.getPeakUsage().getUsed() for p in pools) / 2**20
            app_id = self.spark.sparkContext.applicationId
            self.spark.stop()
            self.spark = None
            groups = layers.parse_event_log(layers.find_event_log(log_dir, app_id))
            metrics = self.per_layer(rec, groups, setup, heap_mb)
            stem = os.path.join(self.work, "trace", f"{self.w.name}-seed{self.args.seed}")
            with open(stem + ".layers.json", "w") as f:
                json.dump({"metrics": metrics, "groups": groups, "inputs": rec}, f, indent=1)
            self.spans.dump(stem + ".spans.json")
            shutil.rmtree(log_dir, ignore_errors=True)
            report["trace_files"] = [stem + ".layers.json", stem + ".spans.json"]
        return {
            "setup": setup,
            "attempted": self.attempted,
            "failures": self.failures,
            "checks": self.checks,
            "wall_s": wall_s,
            "metrics": metrics,
            "report": report,
        }


def prepare(args) -> None:
    """Build the on-disk fixtures once per checkout, outside any timing."""
    from sql_query_engine_spark import get_spark, queries, register_all

    spark = get_spark("perfbench-prepare", extra_conf=bench_conf())
    spark.sparkContext.setLogLevel("ERROR")
    qs = queries()
    for w in W.WORKLOADS.values():
        if w.fixture_rows:
            register_all(spark, w.data_dir)
        for row in w.fixture_rows:
            qs[row](spark, w.data_dir)
    spark.stop()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=sorted(W.WORKLOADS))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", help="where the timed results are left for the check")
    ap.add_argument("--result")
    ap.add_argument("--prepare", action="store_true")
    args = ap.parse_args(argv)
    if args.prepare:
        prepare(args)
        return 0
    client = Client(args)
    try:
        out = client.run()
    finally:
        if client.spark is not None:
            client.spark.stop()
    with open(args.result, "w") as f:
        json.dump(out, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
