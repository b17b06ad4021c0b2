"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload registry_mix --seed 1 --seconds 6 --trace 0

One process, one closed-loop client: the next op starts when the
previous one returns. A run

1. generates the workload's inputs from ``--seed`` (timed apart from set-up),
2. starts the Spark session and runs the discarded warm-up passes, the
   first of which checks every op's output (set-up ends here),
3. runs passes over the workload's ops until ``--seconds`` have elapsed,
4. prints a human summary, an ``info`` JSON line and, last, the result
   JSON line: ``correct``, ``attempted``, ``failed`` and ``metrics``.

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json. ``--trace 1``
alternates untraced and traced passes and reports the per-layer metrics
from the traced ones; the spans go to ``perfbench/.work/traces/``.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import re  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
PACKAGE = "airbnb_pyspark_jobs_spark"


def _since_process_start() -> float:
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return max(0.0, uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


def _cores() -> int:
    return min(4, len(os.sched_getaffinity(0)))


def _env(cores: int) -> None:
    """Keep Spark's and Python's scratch files inside the checkout."""
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_SUBMIT_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def _pct(values: list[float], q: int) -> float:
    """q-th percentile, linear interpolation between closest ranks."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


class Runner:
    """Runs a workload's passes and keeps what each op execution cost."""

    def __init__(self, workload, ctx, tracer, status):
        self.workload, self.ctx = workload, ctx
        self.tracer, self.status = tracer, status
        self.failures: dict[str, str] = {}  # op -> first failure seen
        self.failed_execs = 0
        self.attempted = 0

    def fail(self, op, why: str) -> None:
        self.failures.setdefault(op.name, why)
        self.failed_execs += 1

    def _op(self, op, tag: str, collect=None) -> dict:
        """One op execution. ``collect`` replaces the sink in the warm-up
        pass, so registry results can be checked."""
        from airbnb_pyspark_jobs_spark.caching import release_owned_caches

        spark, tracer = self.ctx.spark, self.tracer
        sc = spark.sparkContext
        spark.catalog.clearCache()
        if op.kind != "query":  # registry queries release their own
            release_owned_caches()
        self.attempted += 1
        rec = {"op": op.name, "ok": True}
        done = False
        t0 = time.perf_counter()
        try:
            with tracer.span("op", op=op.name) as op_span:
                if tracer.enabled:
                    sc.setJobGroup(f"{tag}:build", op.name)
                with tracer.span("build"):
                    df = op.build(self.ctx)
                plan = None
                if tracer.enabled:
                    with tracer.span("plan"):
                        plan = df._jdf.queryExecution().executedPlan()
                    sc.setJobGroup(f"{tag}:execute", op.name)
                with tracer.span("execute"):
                    if collect is None:
                        op.execute(self.ctx, df)
                    else:
                        why = collect(op, df)
                        if why:
                            self.fail(op, why)
                            rec["ok"] = False
            rec["wall_s"] = time.perf_counter() - t0
            done = True
        except Exception as e:  # an op failure must not end the run
            rec.update(ok=False, wall_s=time.perf_counter() - t0)
            traceback.print_exc(file=sys.stderr)
            self.fail(op, f"{type(e).__name__}: {str(e)[:300]}")
        finally:
            if tracer.enabled:
                sc._jsc.clearJobGroup()
        if tracer.enabled and done:
            self._layer_stats(op, tag, op_span, plan)
        return rec

    def _layer_stats(self, op, tag, op_span, plan) -> None:
        """Attach Spark and storage statistics to the op's span."""
        self.status.drain()
        op_span["build_stats"] = self.status.group_stats(f"{tag}:build")
        op_span["exec_stats"] = self.status.group_stats(f"{tag}:execute")
        op_span["resident_mb"] = self.status.resident_mb()
        text = plan.toString()
        op_span["plan_kchars"] = len(text) / 1000
        op_span["exchanges"] = len(re.findall(r"\b(?:Broadcast|Reused)?Exchange\b", text))
        if op.table:
            files = [
                os.path.join(dp, f)
                for dp, _, fs in os.walk(os.path.join(self.ctx.warehouse, op.table))
                for f in fs
                if f.endswith(".parquet")
            ]
            op_span["sink_files"] = len(files)
            op_span["sink_bytes"] = sum(os.path.getsize(f) for f in files)

    def run_pass(self, index: int, traced: bool, collect=None) -> dict:
        self.tracer.enabled = traced
        t0 = time.perf_counter()
        with self.tracer.span("pass", index=index) as span:
            ops = [self._op(op, f"{self.tracer.run_id}:{index}:{i}", collect) for i, op in enumerate(self.workload.ops)]
        self.tracer.enabled = False
        return {"index": index, "traced": traced, "wall_s": time.perf_counter() - t0, "ops": ops, "span": span}


def _stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait until every
    process of this tree has ended."""
    from perfbench.probe import tree_pids

    children = tree_pids() - {os.getpid()}
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while children and time.time() < deadline:
        children = {p for p in children if os.path.exists(f"/proc/{p}")}
        time.sleep(0.1)
    for pid in children:  # Spark's Python workers outliving the JVM
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: {PACKAGE}/ is not in {ROOT}; nothing to measure", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    pre_start = _since_process_start()

    from perfbench import probe
    from perfbench.inputs import prepare

    load_start = probe.loadavg1()
    cpu0, wall0 = probe.cpu_snapshot(), time.perf_counter()
    cores = _cores()
    _env(cores)

    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; known: {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    workload = WORKLOADS[args.workload]

    from perfbench import report
    from perfbench.workloads import Context, EtlChecker, QueryChecker
    from airbnb_pyspark_jobs_spark.session import get_spark

    # benchmark-side work, kept out of setup_s: inputs, expected results
    # and the comparison with them
    t_in = time.perf_counter()
    manifest = prepare(args.seed, os.path.join(WORK, "inputs"), workload.etl)
    if not workload.etl:
        checker = QueryChecker(manifest["sf_dir"], [op.name for op in workload.ops])
    input_gen_s = time.perf_counter() - t_in

    t_sess = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{workload.name}", profile="local")
    session_s = time.perf_counter() - t_sess
    try:
        spark.sparkContext.setLogLevel("ERROR")
        warehouse = os.path.join(WORK, "warehouse")
        shutil.rmtree(warehouse, ignore_errors=True)
        ctx = Context(spark, manifest, warehouse)
        tracer = probe.Tracer(run_id=f"{workload.name}-seed{args.seed}")
        status = None
        if args.trace:
            probe.install_hooks(tracer)
            status = probe.SparkStatus(spark.sparkContext)
        runner = Runner(workload, ctx, tracer, status)

        # warm-up pass (discarded); it also checks every op's output once
        if workload.etl:
            runner.run_pass(-1, False)
            t_chk = time.perf_counter()
            checker = EtlChecker(ctx)
            for op in workload.ops:
                why = checker.check(op) if op.name not in runner.failures else None
                if why:
                    runner.fail(op, why)
            checker.close()
            check_s = time.perf_counter() - t_chk
        else:
            runner.run_pass(-1, False, collect=lambda op, df: checker.check(op.name, df))
            check_s = checker.compare_s
        for i in range(1, workload.warmups):
            runner.run_pass(-1 - i, False)
        setup_s = pre_start + (time.perf_counter() - T0) - input_gen_s - check_s
        check_failures = dict(runner.failures)

        rss = probe.RssSampler().start()
        deadline = time.perf_counter() + args.seconds
        passes = []
        while True:
            traced = bool(args.trace) and len(passes) % 2 == 1
            passes.append(runner.run_pass(len(passes), traced))
            kinds = {p["traced"] for p in passes}
            if time.perf_counter() >= deadline and (not args.trace or len(kinds) == 2):
                break
        peak_rss_mb = rss.stop()
        # before the JVM exits, or its CPU time would read as ambient
        ambient, steal = probe.ambient_cores(cpu0, probe.cpu_snapshot(), time.perf_counter() - wall0)
        load_end = probe.loadavg1()
    finally:
        _stop_spark(spark)

    timed = [p for p in passes if not p["traced"]]
    op_walls = [o["wall_s"] for p in timed for o in p["ops"]]
    pass_walls = [p["wall_s"] for p in timed]
    # an op that raised or failed its output check in the warm-up pass
    # has unchecked output in the timed passes: those executions count too
    failed = runner.failed_execs + sum(
        1 for p in passes for o in p["ops"] if o["ok"] and o["op"] in check_failures
    )
    attempted = runner.attempted
    info = {
        "workload": workload.name,
        "seed": args.seed,
        "cores": cores,
        "passes": len(timed),
        "pass_s_max": max(pass_walls),
        "op_samples": len(op_walls),
        "op_s_p90": _pct(op_walls, 90),
        "failed_op_ratio": failed / attempted,
        "peak_rss_mb": peak_rss_mb,
        "failed_ops": runner.failures,
        "input_gen_s": input_gen_s,
        "check_s": check_s,
        "session_start_s": session_s,
        "ambient_cores": ambient,
        "steal_cores": steal,
        "loadavg_1m": [load_start, load_end],
        "load_suspect": ambient > probe.AMBIENT_CORES_MAX or steal > probe.STEAL_CORES_MAX,
    }
    if args.trace:
        metrics = report.per_layer(passes, tracer, session_s, cores, failed / attempted, manifest)
        metrics["peak_rss_mb"] = (peak_rss_mb, "MB")
        metrics["op_s_p90"] = (info["op_s_p90"], "s")
        path = os.path.join(WORK, "traces", f"{tracer.run_id}.json")
        tracer.write(path)
        info["trace"] = os.path.relpath(path, ROOT)
    else:
        values = {
            "pass_s": statistics.median(pass_walls),
            "op_s_p50": statistics.median(op_walls),
            "setup_s": setup_s,
        }
        metrics = {k: (values[k], u) for k, u in report.E2E_UNITS.items()}
    for p in passes:
        ops = " ".join(f"{o['op']}={o['wall_s']:.2f}" for o in p["ops"])
        print(f"pass {p['index']}{' traced' if p['traced'] else ''}: {p['wall_s']:.2f} s | {ops}")
    if args.trace:
        print(report.where_time_goes(workload, passes, tracer))
    print(json.dumps({"info": info}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
