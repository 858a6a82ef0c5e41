"""One benchmark run, in-process. Start it through ``run.py``, which pins the
host settings and owns the per-run scratch directory.

Closed loop, one client: after set-up, the workload's step list runs in
passes back to back, each step's result checked against its DuckDB oracle.
Pass 0 is the cold pass; then a fixed number of warm passes, as many as
fill ``--seconds`` at the workload's nominal pass time.

The job metrics are CPU seconds: user plus system time of the whole
process tree (this driver, the JVM, the Python workers) over a pass; warm
passes leave out the JVM's JIT compiler threads, whose warm-up work the
cold pass carries and which would otherwise dominate them. On a
shared host the wall time of the same pass moves by a third from run to
run with the load of other tenants, while its CPU time moves by a few
per cent; wall times are kept as the per-layer ``e2e.*`` metrics.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` alternates
untraced and traced warm passes; traced passes force the physical plan
before the collect and read Spark's REST API after every step, and the
per-layer metrics come from them (``trace.overhead_s`` is the difference
of the two kinds' medians). Spans and the full artifact are written to
``<checkout>/.perfbench_work/out/``.
"""

from __future__ import annotations

import argparse
import gc
import hashlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
for p in (HERE, ROOT):
    if p not in sys.path:
        sys.path.insert(0, p)

import gen  # noqa: E402
import probes  # noqa: E402
from workloads import WORKLOADS, Ctx  # noqa: E402

SETUPS = 3
#: warm passes per run, at least (a traced run needs one of each kind)
MIN_WARM = 2
MB = 1e6


T_START = time.monotonic()


def log(msg: str) -> None:
    print(f"[perfbench {time.monotonic() - T_START:6.1f}s] {msg}", file=sys.stderr, flush=True)


def _digest(paths: list[str], extra: str = "") -> str:
    h = hashlib.sha256(extra.encode())
    for p in paths:
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def inputs_for(seed: int, scale: str, cache: str) -> str:
    src = os.path.join(gen.DATA_DIR, scale)
    key = _digest([gen.__file__] + [os.path.join(src, f"{t}.parquet") for t in gen.TABLES])
    d = os.path.join(cache, f"inputs-{scale}-{seed}-{key}")
    if not os.path.isdir(d):
        gen.generate(seed, d, scale)
    return d


def result_lines(step, cols, rows):
    from tools.canon import lines_of

    if step.shape is not None:
        cols, rows = step.shape(cols, rows)
    return list(cols), lines_of(list(cols), [tuple(r) for r in rows])


def expected_for(wl, sf_dir: str, cache: str) -> dict:
    """{step: {cols, rows, hash}} from DuckDB over the generated inputs,
    cached per (inputs, oracle SQL, duckdb version)."""
    import duckdb
    from tools.canon import lines_of, vhash

    sqls = {s.name: s.oracle() for s in wl.steps}
    key = hashlib.sha256(
        json.dumps([sf_dir, duckdb.__version__, sqls], sort_keys=True).encode()
    ).hexdigest()[:16]
    path = os.path.join(cache, f"oracle-{wl.name}-{key}.json")
    if os.path.exists(path):
        with open(path) as fh:
            return json.load(fh)
    con = duckdb.connect()
    for t in gen.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    out = {}
    for name, sql in sqls.items():
        cur = con.execute(sql)
        cols = [d[0] for d in cur.description]
        rows = cur.fetchall()
        out[name] = {"cols": sorted(cols), "rows": len(rows),
                     "hash": vhash(lines_of(cols, rows))}
    con.close()
    with open(path + ".tmp", "w") as fh:
        json.dump(out, fh)
    os.replace(path + ".tmp", path)
    return out


def fixtures_for(wl, sf_dir: str, cache: str) -> str:
    """The workload's prepared inputs (stream replays), cached per inputs
    and per source of the generator and the workload list."""
    key = _digest([gen.__file__, os.path.join(HERE, "workloads.py")], sf_dir)
    d = os.path.join(cache, f"fixtures-{wl.name}-{key}")
    if not os.path.isdir(d):
        shutil.rmtree(d + ".partial", ignore_errors=True)
        wl.prepare(sf_dir, d + ".partial")
        os.replace(d + ".partial", d)
    return d


def spark_conf(scratch: str) -> dict[str, str]:
    return {
        "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.ui.retainedStages": "100000",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedTasks": "1000000",
        "spark.sql.ui.retainedExecutions": "100000",
        "spark.ui.showConsoleProgress": "false",
        # JVM temp files into the scratch dir; no /tmp/hsperfdata_* file
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
            " -XX:-UseDynamicNumberOfCompilerThreads",
    }


def setup(sf_dir: str, conf: dict[str, str]) -> tuple[object, dict]:
    """get_spark + catalog load of every table (schema check included) +
    one warm-up action."""
    t0 = time.perf_counter()
    from uw_hadoop_aglorithms_spark.session import get_spark
    from uw_hadoop_aglorithms_spark.sources import catalog as catalog_mod

    spark = get_spark(app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    getattr(catalog_mod, "_VALIDATED", set()).clear()
    cat = catalog_mod.Catalog(spark, sf_dir)
    for t in gen.TABLES:
        cat.table(t)
    t2 = time.perf_counter()
    cat.table("lineitem").groupBy("l_returnflag").count().collect()
    t3 = time.perf_counter()
    return spark, {"start_s": t1 - t0, "catalog_s": t2 - t1, "warmup_s": t3 - t2,
                   "total_s": t3 - t0}


class Runner:
    def __init__(self, wl, spark, sf_dir, scratch, fixture_dir, expected, trace_run):
        self.wl, self.spark, self.sf_dir = wl, spark, sf_dir
        self.scratch, self.fixture_dir, self.expected = scratch, fixture_dir, expected
        self.rest = probes.Rest(spark)
        self.spans = probes.Spans(f"{wl.name}-{os.getpid()}")
        self.progress: list[dict] = []
        if trace_run:
            spark.streams.addListener(probes.make_listener(self.progress))
        self.attempted = self.failed = 0
        self.failures: list[str] = []
        self.rss_peak = 0.0
        self.rss_parts: dict[str, float] = {}
        self.passes: list[dict] = []
        self.pass_seen: set = set()
        self.step_seen: set = set()

    def check(self, step, cols, rows) -> bool:
        from tools.canon import vhash

        exp = self.expected[step.name]
        cols, lines = result_lines(step, cols, rows)
        ok = sorted(cols) == exp["cols"] and len(lines) == exp["rows"] and vhash(lines) == exp["hash"]
        if not ok:
            self.failures.append(
                f"{step.name}: rows {len(lines)}/{exp['rows']} hash {vhash(lines)}/{exp['hash']}"
            )
        return ok

    def run_pass(self, idx: int, traced: bool) -> dict:
        gc.collect()
        work = os.path.join(self.scratch, f"pass-{idx}")
        os.makedirs(work)
        ctx = Ctx(self.spark, self.sf_dir, work, self.fixture_dir)
        self.rest.new_stages(self.pass_seen)  # consume anything before the pass
        self.step_seen = set(self.pass_seen)
        if traced:
            self.rest.new_jobs()
            self.rest.new_sql()
        del self.progress[:]
        psid = self.spans.start(f"pass:{idx}") if traced else None
        cpu0, jit0 = probes.tree_cpu_s()
        steps = {}
        for step in self.wl.steps:
            self.attempted += 1
            rec = {"call_s": 0.0, "plan_s": 0.0, "collect_s": 0.0, "ok": False}
            sid = self.spans.start(f"step:{step.name}") if traced else None
            try:
                self.run_step(step, ctx, traced, rec)
            except Exception:  # noqa: BLE001 — a failed step is counted, not fatal
                self.failures.append(f"{step.name}: {traceback.format_exc()[-2000:]}")
            if not rec["ok"]:
                self.failed += 1
            if traced:
                self.spans.end(sid)
                rec.update(self.step_counters())
            rss = probes.tree_rss()
            if sum(rss.values()) > self.rss_peak:
                self.rss_peak, self.rss_parts = sum(rss.values()), rss
            steps[step.name] = rec
            if idx == 0:
                log(f"  {step.name}: call {rec['call_s']:.2f}s collect {rec['collect_s']:.2f}s"
                    f" {'ok' if rec['ok'] else 'FAILED'}")
        cpu1, jit1 = probes.tree_cpu_s()
        # the oracle check is the benchmark's work, not the program's
        cpu_s = cpu1 - cpu0 - sum(s.get("check_cpu_s", 0.0) for s in steps.values())
        jit_s = jit1 - jit0
        if traced:
            self.spans.end(psid)
            self.rest.sample_cached()
        stages = self.rest.new_stages(self.pass_seen)
        for v in self.spark.catalog.listTables():
            if v.isTemporary and v.name.startswith("perfbench_"):
                self.spark.catalog.dropTempView(v.name)
        shutil.rmtree(work, ignore_errors=True)
        rec = {
            "idx": idx, "traced": traced, "steps": steps,
            "wall_s": sum(s["call_s"] + s["plan_s"] + s["collect_s"] for s in steps.values()),
            "cpu_s": cpu_s, "jit_s": jit_s,
            "shuffle_write_bytes": sum(s["shuffleWriteBytes"] for s in stages),
        }
        if traced:
            rec["streaming"] = probes.streaming_totals(self.progress)
        self.passes.append(rec)
        return rec

    def run_step(self, step, ctx, traced: bool, rec: dict) -> None:
        """Time the call, the (traced) plan and the collect; then verify."""
        prev = {k: self.spark.conf.get(k) for k in step.conf}
        for k, v in step.conf.items():
            self.spark.conf.set(k, v)
        try:
            t0 = time.perf_counter()
            sid = self.spans.start(step.target) if traced else None
            df = step.call(ctx)
            t1 = time.perf_counter()
            if traced:
                self.spans.end(sid)
                sid = self.spans.start("pyspark.sql.DataFrame.queryExecution.executedPlan")
                df._jdf.queryExecution().executedPlan()
                self.spans.end(sid)
                sid = self.spans.start("pyspark.sql.DataFrame.collect")
            tp = time.perf_counter()
            rows = df.collect()
            t2 = time.perf_counter()
            if traced:
                self.spans.end(sid)
        finally:
            for k, v in prev.items():
                self.spark.conf.set(k, v)
        rec.update(call_s=t1 - t0, plan_s=tp - t1, collect_s=t2 - tp)
        c0 = time.thread_time()
        rec["ok"] = self.check(step, df.columns, rows)
        rec["check_cpu_s"] = time.thread_time() - c0

    def step_counters(self) -> dict:
        """REST deltas attributed to the step that just finished."""
        stages = self.rest.new_stages(self.step_seen)
        jobs = self.rest.new_jobs()
        sql = self.rest.new_sql()
        self.rest.sample_cached()
        py_s, py_b = probes.python_node_totals(sql)
        longest = max(stages, key=lambda s: s["executorRunTime"], default=None)
        return {
            "jobs": len(jobs),
            "stages": len(stages),
            "tasks": sum(s["numTasks"] for s in stages),
            "failed_tasks": sum(s["numFailedTasks"] for s in stages),
            "retried_stages": sum(1 for s in stages if s["attemptId"] > 0),
            "scan_bytes": sum(s["inputBytes"] for s in stages),
            "scan_rows": sum(s["inputRecords"] for s in stages),
            "write_bytes": sum(s["outputBytes"] for s in stages),
            "write_files": probes.written_files(sql),
            "task_run_s": sum(s["executorRunTime"] for s in stages) / 1e3,
            "task_cpu_s": sum(s["executorCpuTime"] for s in stages) / 1e9,
            "gc_s": sum(s["jvmGcTime"] for s in stages) / 1e3,
            "shuffle_write_bytes": sum(s["shuffleWriteBytes"] for s in stages),
            "shuffle_read_bytes": sum(s["shuffleReadBytes"] for s in stages),
            "shuffle_fetch_wait_s": sum(s.get("shuffleFetchWaitTime", 0) for s in stages) / 1e3,
            "spill_bytes": sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in stages),
            "task_skew": self.rest.task_skew(longest) if longest else 1.0,
            "python_udf_s": py_s,
            "python_bytes": py_b,
        }


def per_layer(r: Runner, setups: list[dict], rows: int, nproc: int) -> dict[str, float]:
    traced = [p for p in r.passes[1:] if p["traced"]]
    plain = [p for p in r.passes[1:] if not p["traced"]]
    med = statistics.median
    warm_wall = med(p["wall_s"] for p in plain)

    def over_passes(fn) -> float:
        return med(fn(p) for p in traced)

    def total(field: str) -> float:
        return over_passes(lambda p: sum(s.get(field, 0) for s in p["steps"].values()))

    m = {
        "e2e.cold_job_s": r.passes[0]["wall_s"],
        "e2e.warm_job_s": warm_wall,
        "e2e.rows_per_s": rows / warm_wall,
        "session.start_s": med(s["start_s"] for s in setups),
        "session.jvm_heap_peak_bytes": float(r.rest.heap_peak_bytes()),
        "sources.catalog_load_s": med(s["catalog_s"] for s in setups),
        "sources.scan_bytes": total("scan_bytes"),
        "sources.scan_rows": total("scan_rows"),
        "sources.write_bytes": total("write_bytes"),
        "sources.write_files": total("write_files"),
        "sources.write_s": over_passes(lambda p: sum(
            p["steps"][s.name]["call_s"] + p["steps"][s.name]["collect_s"]
            for s in r.wl.steps if s.writes)),
        "operators.plan_s": total("plan_s"),
        "operators.jobs": total("jobs"),
        "operators.stages": total("stages"),
        "operators.tasks": total("tasks"),
        "operators.python_udf_s": total("python_udf_s"),
        "operators.python_bytes": total("python_bytes"),
        "plans.task_run_s": total("task_run_s"),
        "plans.task_cpu_s": total("task_cpu_s"),
        "plans.gc_s": total("gc_s"),
        "plans.core_busy_frac": over_passes(
            lambda p: sum(s.get("task_run_s", 0) for s in p["steps"].values()) / (nproc * p["wall_s"])),
        "plans.task_skew": over_passes(
            lambda p: max(s.get("task_skew", 1.0) for s in p["steps"].values())),
        "plans.shuffle_write_bytes": total("shuffle_write_bytes"),
        "plans.shuffle_read_bytes": total("shuffle_read_bytes"),
        "plans.shuffle_fetch_wait_s": total("shuffle_fetch_wait_s"),
        "plans.spill_bytes": total("spill_bytes"),
        "plans.cached_bytes_peak": float(r.rest.cached_peak),
        "plans.failed_tasks": total("failed_tasks"),
        "plans.stage_retries": over_passes(lambda p: sum(
            s.get("retried_stages", 0) for s in p["steps"].values()) / max(1, sum(
                s.get("stages", 0) for s in p["steps"].values()))),
        "trace.overhead_s": med(p["wall_s"] for p in traced) - warm_wall,
    }
    for key in probes.streaming_totals([]):
        m[key] = over_passes(lambda p, k=key: p["streaming"][k])
    for wl in WORKLOADS.values():
        for s in wl.steps:
            for part in ("call_s", "collect_s"):
                m[f"operators.{s.name}.{part}"] = (
                    over_passes(lambda p, n=s.name, q=part: p["steps"][n][q])
                    if wl is r.wl else 0.0
                )
    return m


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", default="sf0.01", choices=sorted(os.listdir(gen.DATA_DIR)))
    args = ap.parse_args()

    wl = WORKLOADS[args.workload]
    scratch = os.environ["PERFBENCH_SCRATCH"]
    work = os.environ["PERFBENCH_WORK"]
    cache, out_dir = os.path.join(work, "cache"), os.path.join(work, "out")
    os.makedirs(cache, exist_ok=True)
    os.makedirs(out_dir, exist_ok=True)
    nproc = int(os.environ["SPARK_GRAFT_CPUS"])

    sf_dir = inputs_for(args.seed, args.scale, cache)
    expected = expected_for(wl, sf_dir, cache)
    fixture_dir = fixtures_for(wl, sf_dir, cache) if wl.prepare else None
    log(f"inputs {sf_dir}; oracles ready")

    conf = spark_conf(scratch)
    setups = []
    spark = None
    for i in range(SETUPS):
        if spark is not None:
            spark.stop()
        spark, t = setup(sf_dir, conf)
        setups.append(t)
    log("setup " + ", ".join(f"{s['total_s']:.2f}s" for s in setups))

    r = Runner(wl, spark, sf_dir, scratch, fixture_dir, expected, bool(args.trace))
    cold = r.run_pass(0, traced=False)
    log(f"cold pass {cold['wall_s']:.2f}s wall, {cold['cpu_s']:.2f}s cpu")
    for idx in range(1, warm_passes(wl, args.seconds) + 1):
        r.run_pass(idx, traced=bool(args.trace) and idx % 2 == 0)
    plain = [p for p in r.passes[1:] if not p["traced"]]
    log("warm passes " + ", ".join(
        f"{p['wall_s']:.2f}/{p['cpu_s']:.2f}/{p['jit_s']:.2f}" for p in r.passes[1:])
        + " (wall/cpu/jit s)")
    rows = sum(gen_rows(sf_dir, t) for t in wl.tables)

    if args.trace:
        metrics = {k: (v, unit_of(k)) for k, v in per_layer(r, setups, rows, nproc).items()}
    else:
        warm_cpu = statistics.median(p["cpu_s"] - p["jit_s"] for p in plain)
        metrics = {
            "setup_s": (statistics.median(s["total_s"] for s in setups), "s"),
            "cold_job_cpu_s": (cold["cpu_s"], "s"),
            "warm_job_cpu_s": (warm_cpu, "s"),
            "rows_per_cpu_s": (rows / warm_cpu, "rows/s"),
            "peak_rss_mb": (r.rss_peak, "MB"),
            "shuffle_mb": (statistics.median(p["shuffle_write_bytes"] for p in plain) / MB, "MB"),
        }
    tag = f"{wl.name}-seed{args.seed}-trace{args.trace}"
    from tools.engineversions import engine_versions

    artifact = {
        "workload": wl.name, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "scale": args.scale, "input_rows": rows,
        "settings": {k: os.environ.get(k) for k in (
            "SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM", "PYTHONPATH",
            "SPARK_LOCAL_DIRS", "TMPDIR")} | {"spark_conf": conf},
        "versions": engine_versions(spark),
        "setups": setups, "warm_passes": len(plain), "passes": r.passes,
        "peak_rss_parts_mb": r.rss_parts,
        "failures": r.failures, "metrics": {k: v for k, (v, _) in metrics.items()},
    }
    if args.trace:
        artifact["spans_file"] = os.path.join(out_dir, f"{tag}-spans.json")
        r.spans.dump(artifact["spans_file"])
    with open(os.path.join(out_dir, f"{tag}.json"), "w") as fh:
        json.dump(artifact, fh, indent=1, default=str)
    spark.stop()
    log("stopped")

    for f in r.failures:
        log(f"FAIL {f}")
    correct = r.failed == 0
    print(json.dumps({
        "correct": correct, "attempted": r.attempted, "failed": r.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if correct else 1


def warm_passes(wl, seconds: float) -> int:
    """Warm passes of a run: as many as fill ``seconds`` at the workload's
    nominal pass time, and at least two. The count depends only on the
    workload and ``seconds``, never on how fast this run goes, so every
    run and every commit takes its median over the same pass positions
    (the JVM keeps compiling for several passes, and later passes cost
    less)."""
    return max(MIN_WARM, round(seconds / wl.pass_s))


def gen_rows(sf_dir: str, table: str) -> int:
    import pyarrow.parquet as pq

    return pq.ParquetFile(os.path.join(sf_dir, f"{table}.parquet")).metadata.num_rows


def unit_of(name: str) -> str:
    if name.endswith("rows_per_s"):
        return "rows/s"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes") or name.endswith("_bytes_peak"):
        return "bytes"
    if name.endswith("_frac") or name.endswith("_skew") or name.endswith("retries"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
