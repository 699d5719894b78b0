"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload interactive --seed 1 --seconds 6 --trace 0

Run it from the repository root (the directory holding
``ddf_flink_spark/``). The run generates its inputs from ``--seed``,
starts a Spark session on ``local[$SPARK_GRAFT_CPUS]`` (4 cores if unset),
sets the workload up, drives it from one client in a closed loop for
``--seconds`` seconds (to the end of a block or pass), checks every
output against DuckDB, and prints a
human-readable summary followed by one JSON object on the last line.
``--trace 0`` reports the end-to-end metrics; ``--trace 1`` records
spans around every call into an engine layer and reports the per-layer
metrics instead. Working files live under ``.perfbench_work/`` and are
removed at exit; a detailed record of the run (environment stamp,
per-class latencies, spans) is written to ``.perfbench_out/``.
The exit code is 0 only when every operation succeeded and every check
passed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORKLOADS = ("interactive", "batch")


def fail(msg: str) -> "None":
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--scale",
        choices=("bench", "tiny"),
        default="bench",
        help="tiny runs every workload at sf0.001 (self-test)",
    )
    ap.add_argument("--max-ops", type=int, default=0, help="stop after N ops (0: no cap)")
    ap.add_argument(
        "--corrupt",
        type=int,
        default=-1,
        help="index of an op whose result is corrupted before checking (self-test)",
    )
    return ap.parse_args(argv)


def tail_percentile(values: list[float]) -> "tuple[float | None, float | None, int]":
    """Highest percentile with at least ten samples above it:
    (percentile, value, samples)."""
    n = len(values)
    if n < 20:  # below 20 samples that percentile is under the median
        return None, None, n
    s = sorted(values)
    idx = n - 11
    return 100.0 * (idx + 1) / n, s[idx], n


class Ctx:
    """What a workload sees: the session, tracer, seed and directories."""

    def __init__(self, args, tracer, work: str):
        self.seed = args.seed
        self.tracer = tracer
        self.span = tracer.span
        self.work = work
        self.tiny = args.scale == "tiny"
        self.spark = None
        self.detail: dict = {}

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


def _prepare_env(work: str) -> None:
    """Keep every file the engine, Spark and the JVM write inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "3g")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # the spark-submit launcher JVM would otherwise write /tmp/hsperfdata_*
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    import tempfile

    tempfile.tempdir = tmp


def _start_session(work: str, tracer):
    from ddf_flink_spark import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.environ['TMPDIR']} "
            f"-Dderby.system.home={os.path.join(work, 'derby')} "
            # no hsperfdata file under /tmp
            "-XX:-UsePerfData"
        ),
    }
    t0 = time.perf_counter()
    with tracer.span("session.get_spark"):
        spark = get_spark("perfbench", **conf)
    return spark, time.perf_counter() - t0


def _stop_session(spark) -> None:
    """Stop Spark, then the JVM, and wait for every child to exit."""
    from pyspark import SparkContext

    from probes import descendants

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    try:
        spark.stop()
    finally:
        if gw is not None:
            try:
                gw.shutdown()
            except Exception:  # noqa: BLE001 - best effort at teardown
                pass
        if proc is not None:
            try:
                proc.stdin.close()
            except Exception:  # noqa: BLE001
                pass
            try:
                proc.wait(timeout=20)
            except Exception:  # noqa: BLE001
                proc.kill()
                proc.wait(timeout=10)
    deadline = time.time() + 15
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.2)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, 9)
        except OSError:
            pass


def run(args) -> int:
    if not os.path.isdir(os.path.join(ROOT, "ddf_flink_spark")):
        fail("run from the repository root: ddf_flink_spark/ not found")
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import probes
    import workloads
    from spans import LAYERS, Tracer, layer_self_times

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _prepare_env(work)
    tracer = Tracer(bool(args.trace))
    ctx = Ctx(args, tracer, work)
    wl = workloads.make(args.workload, ctx)
    stamp = probes.env_stamp()
    jiffies0 = probes.cpu_times()
    phases = {}
    t_phase = time.perf_counter()
    wl.generate()
    phases["generate_s"] = time.perf_counter() - t_phase

    spark = None
    try:
        spark, session_s = _start_session(work, tracer)
        ctx.spark = spark
        cohort = probes.Cohort()
        stamp.update(probes.env_stamp(spark))
        reps = 1 if ctx.tiny else wl.setup_reps
        setup_times = []
        for rep in range(reps):
            tracer.op = f"setup{rep}"
            t0 = time.perf_counter()
            wl.setup(rep)
            setup_times.append(time.perf_counter() - t0)
        tracer.op = "warmup"
        t0 = time.perf_counter()
        wl.warmup()
        warm_s = time.perf_counter() - t0
        setup_s = session_s + statistics.median(setup_times) + warm_s

        # ---- measured window ------------------------------------------
        sc = spark.sparkContext
        c0 = cohort.sample()
        gc0 = probes.jvm_gc_ms(spark)
        workers0 = set(cohort.workers_seen)
        setup_spans = tracer.dump()
        tracer.spans.clear()
        tracer.overhead_s = 0.0
        records = []
        boundaries = 0
        t_start = time.perf_counter()
        for i, op in enumerate(wl.ops()):
            op_id = f"op{i}"
            tracer.op = op_id
            if tracer.enabled:
                with tracer.probe():
                    sc.setJobGroup(op_id, op.kind)
            t0 = time.perf_counter()
            try:
                result, err = op.run(), None
            except Exception as e:  # noqa: BLE001 - a failed op is counted
                result, err = None, f"{type(e).__name__}: {e}"[:300]
            dt = time.perf_counter() - t0
            records.append({"op": op_id, "op_obj": op, "kind": op.kind, "cls": op.cls,
                            "s": dt, "rows": op.rows, "result": result, "error": err})
            # after every op, so the peak of a worker that exits is kept
            cohort.sample()
            if tracer.enabled:
                with tracer.probe():
                    jobs, stages, tasks = probes.job_group_counts(spark, op_id)
                    tracer.count("spark.jobs", jobs)
                    tracer.count("spark.stages", stages)
                    tracer.count("spark.tasks", tasks)
                    wl.trace_probe(op, result)
            if op.boundary:
                boundaries += 1
                elapsed = time.perf_counter() - t_start
                if elapsed >= args.seconds or (args.max_ops and i + 1 >= args.max_ops):
                    break
        wall = time.perf_counter() - t_start
        c1 = cohort.sample()
        gc1 = probes.jvm_gc_ms(spark)
        stamp["loadavg_end"] = os.getloadavg()
        stamp["host_steal_share"] = probes.steal_share(jiffies0, probes.cpu_times())

        # ---- correctness (outside the timed window) --------------------
        t_phase = time.perf_counter()
        wl.before_checks()
        for i, rec in enumerate(records):
            if rec["error"] is None:
                res = rec["result"]
                if i == args.corrupt:
                    res = workloads.corrupt(res)
                try:
                    ok = bool(rec["op_obj"].check(res))
                except Exception as e:  # noqa: BLE001
                    ok, rec["error"] = False, f"check raised {type(e).__name__}: {e}"[:300]
                if not ok and rec["error"] is None:
                    rec["error"] = "output mismatch"
        for name, ok in wl.final_checks():
            records.append({"op": name, "kind": name, "cls": "check", "s": 0.0, "rows": 0,
                            "error": None if ok else "output mismatch"})
        phases["checks_s"] = time.perf_counter() - t_phase
        attempted = len(records)
        failed = sum(1 for r in records if r["error"] is not None)
        timed = [r for r in records if r["cls"] != "check"]
        n_ops = len(timed)

        cpu = {k: c1["cpu"][k] - c0["cpu"][k] for k in c0["cpu"]}
        lat = [r["s"] * 1000 for r in timed]
        values = {
            "setup_s": setup_s,
            "peak_rss_mb": c1["peak_rss_mb"],
            "op_geomean_ms": statistics.geometric_mean(lat),
            "ops_per_s": n_ops / wall,
            "cpu_ms_per_op": 1000 * cpu["total"] / n_ops,
            "input_rows_per_s": sum(r["rows"] for r in timed) / wall,
        }
        e2e = {k: (values[k], unit) for k, unit in workloads.END_TO_END}
        classes = {}
        for cls in sorted({r["cls"] for r in timed}):
            xs = [r["s"] * 1000 for r in timed if r["cls"] == cls]
            pct, tail, n = tail_percentile(xs)
            classes[cls] = {"p50_ms": statistics.median(xs), "tail_pct": pct,
                            "tail_ms": tail, "samples": n}
        # a pass is a batch pass or an interactive block of requests
        passes = max(1, boundaries)
        extras = wl.summary(timed)
        summary = {
            "ops_failed_ratio": failed / attempted,
            "classes": classes,
            "cpu_s_per_pass": cpu["total"] / passes,
            "passes": passes,
            "wall_s": wall,
            "rss_mb_by_role": c1["rss_mb"],
            "session_start_s": session_s,
            "setup_rep_s": setup_times,
            "warmup_s": warm_s,
            **extras,
        }

        layer = {}
        if tracer.enabled:
            layer = wl.layer_metrics(timed, n_ops)
            layer["session.start_s"] = (session_s, "s")
            layer["spark.jobs_per_op"] = (tracer.counts.get("spark.jobs", 0) / n_ops, "count")
            layer["spark.stages_per_op"] = (tracer.counts.get("spark.stages", 0) / n_ops, "count")
            layer["spark.tasks_per_op"] = (tracer.counts.get("spark.tasks", 0) / n_ops, "count")
            layer["cpu.driver_py_s"] = (cpu["driver_py"] / n_ops, "s")
            layer["cpu.jvm_s"] = (cpu["jvm"] / n_ops, "s")
            layer["cpu.py_workers_s"] = (cpu["py_workers"] / n_ops, "s")
            layer["py_workers.spawned"] = (len(cohort.workers_seen - workers0), "count")
            layer["jvm.gc_ms"] = ((gc1 - gc0) / n_ops, "ms")
            selfs = layer_self_times(tracer.spans)
            for name in LAYERS:
                s, calls = selfs.get(name, (0.0, 0))
                layer[f"layer.{name}.self_ms_per_op"] = (1000 * s / n_ops, "ms")
                layer[f"layer.{name}.calls_per_op"] = (calls / n_ops, "count")
            layer["trace.overhead_ratio"] = (tracer.overhead_s / wall, "ratio")
            for name, unit in workloads.PER_LAYER:
                layer.setdefault(name, (0.0, unit))
    finally:
        t_phase = time.perf_counter()
        if spark is not None:
            _stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
        phases["stop_s"] = time.perf_counter() - t_phase

    metrics = layer if args.trace else e2e
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    detail = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "scale": args.scale, "env": stamp,
        "workload_info": {**wl.info(), **ctx.detail},
        "end_to_end": {k: v[0] for k, v in e2e.items()},
        "summary": summary, "phases": phases, "per_layer": {k: v[0] for k, v in layer.items()},
        "failures": [{k: r[k] for k in ("op", "kind", "error")} for r in records if r["error"]],
        "ops": [{k: r[k] for k in ("op", "kind", "cls", "s", "rows")} for r in timed],
    }
    if tracer.enabled:
        detail["spans"] = tracer.dump()
        detail["setup_spans"] = setup_spans
        detail["counts"] = tracer.counts
    fname = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(out_dir, fname), "w") as fh:
        json.dump(detail, fh, indent=1, default=str)

    print(f"workload={args.workload} seed={args.seed} ops={n_ops} attempted={attempted} "
          f"failed={failed} wall_s={wall:.2f} env={json.dumps(stamp, default=str)}")
    for k, (v, unit) in sorted(e2e.items()):
        print(f"  {k:<22} {v:>14.4f} {unit}")
    print(f"  {'ops_failed_ratio':<22} {summary['ops_failed_ratio']:>14.4f} ratio")
    print(f"  {'cpu_s_per_pass':<22} {summary['cpu_s_per_pass']:>14.4f} s ({passes} passes)")
    for cls, c in classes.items():
        tail = (f"p{c['tail_pct']:.1f}={c['tail_ms']:.1f} ms" if c["tail_ms"] is not None
                else "tail n/a (<20 samples)")
        print(f"  {cls}: p50={c['p50_ms']:.1f} ms {tail} n={c['samples']}")
    for k, v in extras.items():
        print(f"  {k}: {v}")
    for k, (v, unit) in sorted(layer.items()):
        print(f"  {k:<44} {v:>14.6f} {unit}")
    for r in records:
        if r["error"]:
            print(f"  FAILED {r['op']} {r['kind']}: {r['error']}")
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result))
    return 0 if failed == 0 else 1


def main(argv=None) -> int:
    return run(parse_args(argv))


if __name__ == "__main__":
    sys.exit(main())
