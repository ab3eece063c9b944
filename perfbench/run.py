"""Benchmark entry point.

  python3 perfbench/run.py --workload kg_build --seed 1 --seconds 16 --trace 0
  python3 perfbench/run.py --workload all

Run from the repository root. One workload runs in this process, in its
own Spark session on local[<cores>]. The last line of standard output is
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``.
With ``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
the run does one untraced and one traced iteration and reports per-layer
metrics from Spark's event log. ``--workload all`` runs every workload in
a child process and prints their end-to-end metrics together.
"""

from __future__ import annotations

import time

T0 = time.monotonic()

import argparse  # noqa: E402
import glob  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOAD_NAMES = ["kg_build", "contract_suite"]
SETUPS = 3  # set-ups per run; setup_s is their median
DRIVER_MEMORY = "3g"


def _calibration(cores: int) -> dict:
    """Host speed diagnostic (not a metric): wall time of a fixed pure-CPU
    burn on one core, and the slowest of one burn per core run at once, to
    tell host swings apart from regressions."""
    from tools.cpu_calibrate import burn

    units = 2
    t = time.monotonic()
    burn(units)
    one = time.monotonic() - t
    timed_burn = ("import sys, time; from tools.cpu_calibrate import burn; t = time.monotonic();"
                  " burn(int(sys.argv[1])); print(time.monotonic() - t)")
    procs = [subprocess.Popen([sys.executable, "-c", timed_burn, str(units)], cwd=ROOT,
                              stdout=subprocess.PIPE, text=True) for _ in range(cores)]
    all_cores = max(float(p.communicate()[0]) for p in procs)
    return {"burn_units": units, "one_core_s": one, "all_cores_s": all_cores, "cores": cores}


def _session(name: str, cores: int, extra: dict):
    from medacy_spark.session import get_spark

    return get_spark(app_name=f"perfbench-{name}", cores=cores, extra_conf=extra)


def _stop_jvm() -> None:
    """End the JVM the sessions ran in and wait for it, so that no process
    of the run outlives it (the JVM exits at EOF on its stdin)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None or gw.proc is None:
        return
    try:
        gw.shutdown()
    except Exception:  # a connection cut by a signal: the JVM still ends below
        traceback.print_exc(file=sys.stderr)
    gw.proc.stdin.close()
    try:
        gw.proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        gw.proc.kill()
        gw.proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


def run_one(args) -> int:
    try:
        import medacy_spark.contract  # noqa: F401
        import tools.oracle_check  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    from perfbench import eventlog, report
    from perfbench.procmem import PeakMemory, adopt_orphans, wait_children
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS, ContractSuite

    imports_s = time.monotonic() - T0
    adopt_orphans()
    # a terminated run still stops the JVM and waits for its processes
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
    conf = {
        # a fixed-size heap: peak memory does not hinge on when G1 grows it
        "spark.driver.extraJavaOptions":
            f"-Xms{DRIVER_MEMORY} -Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    tracer = Tracer()
    tracer.install()
    wl = WORKLOADS[args.workload](args.seed, work, tracer)
    spark = None
    try:
        wl.prepare()
        phases = {"imports": imports_s, "prepare": time.monotonic() - T0 - imports_s}
        setups, session_start_s = [], 0.0
        for k in range(SETUPS):
            t = time.monotonic()
            if spark is not None:
                spark.stop()
            extra = dict(conf)
            if args.trace and k == SETUPS - 1:
                os.makedirs(f"{work}/eventlog")
                extra.update({
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": f"file://{work}/eventlog",
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                })
            spark = _session(args.workload, cores, extra)
            if k == 0:
                session_start_s = time.monotonic() - t
            spark.range(1000).selectExpr("sum(id)").collect()  # warm-up
            setups.append(time.monotonic() - t + (imports_s if k == 0 else 0.0))

        iterations, failed_iterations, spent = [], 0, []

        def one(i: int) -> None:
            nonlocal failed_iterations
            t = time.monotonic()
            try:
                iterations.append(wl.iteration(spark, i))
                spent.append(time.monotonic() - t)
            except Exception:  # a failed operation is counted, not fatal
                traceback.print_exc(file=sys.stderr)
                failed_iterations += 1

        for i in range(wl.primes):
            one(i)
        primed = len(iterations)
        phases["setup+prime"] = time.monotonic() - T0 - sum(phases.values())
        with PeakMemory() as mem:
            if args.trace:
                one(wl.primes)
                tracer.start(spark.sparkContext)
                one(wl.primes + 1)
                tracer.stop()
            else:
                t0 = time.monotonic()
                i = 0
                while i == 0 or (
                    time.monotonic() - t0 < args.seconds
                    and (wl.max_iterations is None or i < wl.max_iterations)
                ):
                    one(wl.primes + i)
                    i += 1
        spark.stop()
        spark = None
        _stop_jvm()
        phases["timed+stop"] = time.monotonic() - T0 - sum(phases.values())
        timed = iterations[primed:]

        for i, it in enumerate(iterations):
            label = "prime" if i < primed else "iteration"
            print(f"{args.workload}: {label} {i}: {it.wall_s:.3f} s ({spent[i]:.3f} s with"
                  f" checks), {it.docs} docs; "
                  + ", ".join(f"{o.name or o.kind} {o.seconds:.3f}" + ("" if o.ok else " FAILED")
                              for o in it.ops))
        ops = [o for it in iterations for o in it.ops]
        attempted = len(ops) + failed_iterations
        failed = sum(not o.ok for o in ops) + failed_iterations
        if args.trace:
            (path,) = glob.glob(f"{work}/eventlog/*")
            with open(path) as f:
                log = eventlog.parse(f)
            is_contract = isinstance(wl, ContractSuite)
            metrics = report.per_layer(
                tracer, log,
                traced_wall=timed[-1].wall_s, untraced_wall=timed[0].wall_s,
                session_start_s=session_start_s,
                contract_walls=wl.walls if is_contract else {},
                persisted_left=wl.persisted_left if is_contract else 0,
                conf_changed=wl.conf_changed if is_contract else 0,
                query_names=ContractSuite.QUERIES,
            )
            share = metrics["trace.layer_self_frac"]["value"]
            print(f"{args.workload}: layers' self_s cover {share:.3f} of the traced wall_s"
                  + ("" if share <= 1.0 else " (MORE THAN THE WALL: span arithmetic is wrong)"))
        else:
            metrics, wall_clock = report.end_to_end(setups, timed, wl.latency_kinds, mem.peak_bytes)
            lat = [o.seconds for it in timed for o in it.ops if o.kind in wl.latency_kinds]
            tl = report.tail(lat)
            print(f"{args.workload}: {wl.latency_label}.p50 = {statistics.median(lat):.4f} s"
                  f" over {len(lat)} samples")
            print(f"{args.workload}: {wl.latency_label}.tail = "
                  + (f"p{tl[0]} {tl[1]:.4f} s of {len(lat)} samples" if tl
                     else f"n/a ({len(lat)} samples, fewer than 11)"))
            print(f"{args.workload}: failed_frac = {failed / attempted:.4f}"
                  f" ({failed} of {attempted} operations)")
            for name, m in {**wall_clock, **metrics}.items():
                print(f"{args.workload}: {name} = {m['value']:.4f} {m['unit']}")
        print(json.dumps({"calibration": _calibration(cores)}))
        phases["report"] = time.monotonic() - T0 - sum(phases.values())
        print(f"{args.workload}: run took {time.monotonic() - T0:.1f} s: "
              + ", ".join(f"{k} {v:.1f}" for k, v in phases.items())
              + "; set-ups " + ", ".join(f"{v:.2f}" for v in setups))
        print(json.dumps({
            "correct": failed == 0 and not failed_iterations,
            "attempted": attempted,
            "failed": failed,
            "metrics": metrics,
        }))
        return 0
    finally:
        signal.signal(signal.SIGTERM, signal.SIG_IGN)  # let the clean-up finish
        try:
            if spark is not None:
                spark.stop()
        except Exception:  # a connection cut by a signal: the JVM is ended below
            traceback.print_exc(file=sys.stderr)
        _stop_jvm()
        wait_children()
        tracer.uninstall()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass


def run_all(args) -> int:
    """Every workload in its own child process (and Spark session)."""
    merged = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in WORKLOAD_NAMES:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace)]
        proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"perfbench: workload {name} failed (exit {proc.returncode})", file=sys.stderr)
            return proc.returncode or 1
        print("\n".join(lines[:-1]))
        res = json.loads(lines[-1])
        merged["correct"] &= res["correct"]
        merged["attempted"] += res["attempted"]
        merged["failed"] += res["failed"]
        merged["metrics"].update({f"{name}.{k}": v for k, v in res["metrics"].items()})
    print(json.dumps(merged))
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES + ["all"])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=16)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    # import the program and this package from the repository root, and
    # keep this directory's modules from shadowing standard ones
    sys.path[:] = [ROOT] + [d for d in sys.path if os.path.abspath(d or ".") != os.path.dirname(os.path.abspath(__file__))]
    return run_all(args) if args.workload == "all" else run_one(args)


if __name__ == "__main__":
    sys.exit(main())
