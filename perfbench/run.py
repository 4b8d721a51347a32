"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. One run:

1. builds a Spark session through ``labelspark_spark.get_spark_session``
   on ``local[<cores>]`` and times process start to the first trivial
   job;
2. writes the workload's inputs from ``--seed`` under a temporary
   directory inside the checkout (warehouse, spool, checkpoints and
   event log go there too, and it is removed at exit);
3. runs one cold pass and then enough warm passes to fill ``--seconds``
   (at least two), timing every step, and checks every output outside
   the timed region;
4. once that session is gone, two child processes repeat step 1;
   ``setup_s`` is the median of the three;
5. prints a detail line (provenance, input sizes, per-step times,
   output digests, failures) and, as the last line, the result
   ``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
   the metrics are the end-to-end ones; with ``--trace 1`` the Spark
   event log is on and the metrics are the per-layer ones, folded per
   step from the log and from the benchmark's own timers.

Exits non-zero without a result when the package cannot be imported.
"""

from __future__ import annotations

import time

_T0 = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DRIVER_MEM = "2g"
SETUP_SAMPLES = 3


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def configure_env(tmp: str) -> None:
    """Point every temp/scratch location into ``tmp`` and make the
    package importable by Python workers from any working directory."""
    for sub in ("py", "spark-local", "java"):
        os.makedirs(os.path.join(tmp, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(tmp, "py")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    # -XX:-UsePerfData: no hsperfdata file in the system temp dir, for
    # the launcher JVM here and the driver JVM in build_session
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(tmp, 'java')}")
    os.environ["SPARK_GRAFT_CPUS"] = str(_cores())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    import tempfile

    tempfile.tempdir = os.environ["TMPDIR"]
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def build_session(tmp: str, trace: bool):
    from labelspark_spark import get_spark_session

    conf = {
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        # a fixed-size heap: the peak RSS then follows the work, not
        # when G1 decided to grow the heap
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM} -XX:-UsePerfData "
                                         f"-Djava.io.tmpdir={os.path.join(tmp, 'java')}",
        "spark.hadoop.hadoop.tmp.dir": os.path.join(tmp, "java"),
    }
    if trace:
        os.makedirs(os.path.join(tmp, "eventlog"), exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(tmp, "eventlog"),
            "spark.eventLog.compress": "false",
        })
    return get_spark_session(app_name="perfbench", extra_conf=conf)


def stop_session(spark, clean: bool = True) -> None:
    """Stop Spark and wait until its JVM has exited. ``clean=False``
    skips ``spark.stop()`` (seconds after streaming work) and kills the
    JVM, once nothing more is read from it; the event log needs a
    clean stop to be complete."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if clean:
        spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=2 if clean else 0)
        except subprocess.TimeoutExpired:
            # Spark has stopped; what is left is JVM shutdown hooks
            # (temp-dir cleanup, which the caller does itself)
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def setup_probe(tmp: str) -> None:
    """Child-process setup sample: build the session, run the first
    trivial job, report, stop."""
    configure_env(tmp)
    spark = build_session(tmp, trace=False)
    spark.range(1).count()
    print("ready", flush=True)
    stop_session(spark, clean=False)


def _child_setup_s(tmp: str) -> float:
    t0 = time.perf_counter()
    p = subprocess.Popen(
        [sys.executable, os.path.abspath(__file__), "--setup-probe", "--tmp", tmp],
        stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, cwd=ROOT,
    )
    try:
        line = p.stdout.readline()
        dt = time.perf_counter() - t0
        p.stdout.read()
    finally:
        if p.wait(timeout=120) != 0:
            raise RuntimeError(f"setup probe exited with {p.returncode}")
    if line.strip() != "ready":
        raise RuntimeError("setup probe did not reach its first job")
    return dt


def provenance(spark, seed: int) -> dict:
    try:
        sha = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10).stdout.strip() or None
    except OSError:
        sha = None
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "labelspark_spark")
    for d, _, files in sorted(os.walk(pkg)):
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(fh.read())
    conf = spark.sparkContext.getConf()
    return {
        "seed": seed,
        "nproc": _cores(),
        "load_avg": [round(x, 2) for x in os.getloadavg()],
        "git_sha": sha,
        "source_sha256": h.hexdigest()[:16],
        "default_parallelism": spark.sparkContext.defaultParallelism,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "driver_memory": conf.get("spark.driver.memory"),
        "master": spark.sparkContext.master,
    }


@contextlib.contextmanager
def _phase(phases: dict, name: str):
    t0 = time.perf_counter()
    try:
        yield
    finally:
        phases[name] = time.perf_counter() - t0


def _jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def run_passes(wl, spark, seconds: float) -> dict:
    """Cold pass, then warm passes; returns per-pass step records."""
    from perfbench.workloads import Step

    steps: list[Step] = wl.steps()
    warm = max(2, int(round(seconds / wl.nominal_pass_s)))
    sc = spark.sparkContext
    passes, failures = [], []
    for p in range(1 + warm):
        wl.reset()
        recs = []
        for st in steps:
            sid = f"p{p}:{st.name}"
            wl.io = {}
            sc.setJobGroup(sid, st.name)
            t_start = time.time() * 1000.0
            t0 = time.perf_counter()
            err = out = None
            try:
                res = st.call()
                t1 = time.perf_counter()
                out = st.act(res) if st.act else res
            except Exception as e:  # a failed step is counted, not fatal
                t1 = time.perf_counter()
                err = f"{type(e).__name__}: {str(e).splitlines()[0] if str(e) else ''}"
                traceback.print_exc(file=sys.stderr)
            t2 = time.perf_counter()
            t_end = time.time() * 1000.0
            sc.setJobGroup("", "")
            if err is None:
                try:
                    err = wl.check(st, out)
                except Exception as e:
                    err = f"check raised {type(e).__name__}: {e}"
                    traceback.print_exc(file=sys.stderr)
            if err is not None:
                failures.append(f"workload={wl.name} step={st.name} pass={p} "
                                f"seed={wl.seed}: {err}")
            plan_s = t1 - t0 if st.act is not None and st.lazy else None
            recs.append({"id": sid, "step": st.name, "wall_s": t2 - t0, "plan_s": plan_s,
                         "start_ms": t_start, "end_ms": t_end, "ok": err is None,
                         "io": dict(wl.io)})
        passes.append(recs)
        print(f"# {wl.name} pass {p}: {sum(r['wall_s'] for r in recs):.3f}s",
              file=sys.stderr, flush=True)
    return {"passes": passes, "failures": failures}


def end_to_end(setup: list[float], passes: list[list[dict]], rows: int, rss_mb: float) -> dict:
    import numpy as np

    from perfbench.trace import tail_quantile

    pass_walls = [sum(r["wall_s"] for r in p) for p in passes]
    warm_steps = [r["wall_s"] for p in passes[1:] for r in p]
    pass_s = statistics.median(pass_walls[1:])
    q = tail_quantile(len(warm_steps))
    return {
        "setup_s": statistics.median(setup),
        "cold_pass_s": pass_walls[0],
        "pass_s": pass_s,
        "step_p50_s": float(np.percentile(warm_steps, 50)),
        "step_p90_s": float(np.percentile(warm_steps, 100 * q)),
        "rows_per_s": rows / pass_s,
        "driver_peak_rss_mb": rss_mb,
    }, {"step_tail_quantile": q, "step_samples": len(warm_steps), "pass_walls_s": pass_walls}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--setup-probe", action="store_true", help=argparse.SUPPRESS)
    ap.add_argument("--tmp", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)

    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    if args.setup_probe:
        setup_probe(args.tmp)
        return 0
    try:
        import labelspark_spark  # noqa: F401
        from perfbench import layers
        from perfbench.workloads import WORKLOADS
    except ImportError as e:
        print(f"perfbench: cannot import the package under test: {e}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    tmp = os.path.join(ROOT, ".perfbench_tmp", f"{args.workload}-{os.getpid()}")
    os.makedirs(tmp, exist_ok=True)
    spark = None
    try:
        configure_env(tmp)
        trace = bool(args.trace)
        t_session = time.perf_counter()
        spark = build_session(tmp, trace)
        session_s = time.perf_counter() - t_session
        spark.range(1).count()
        setup = [time.perf_counter() - _T0]
        spans = layers.instrument() if trace else None
        phases = {"setup": setup[0]}
        wl = WORKLOADS[args.workload](spark=spark, tmp=tmp, seed=args.seed)
        with _phase(phases, "inputs"):
            wl.prepare()
        with _phase(phases, "passes"):
            run = run_passes(wl, spark, args.seconds)
        rss = layers.peak_rss_mb(_jvm_pid(spark))
        prov = provenance(spark, args.seed)
        with _phase(phases, "stop"):
            stop_session(spark, clean=trace)
        spark = None
        # the other setup samples run with this session gone
        with _phase(phases, "setup_children"):
            setup += [_child_setup_s(os.path.join(tmp, "probes", str(i)))
                      for i in range(SETUP_SAMPLES - 1)]
        e2e, stats = end_to_end(setup, run["passes"], wl.info["rows"], rss)
        attempted = sum(len(p) for p in run["passes"])
        failed = sum(not r["ok"] for p in run["passes"] for r in p)
        if trace:
            with _phase(phases, "fold"):
                metrics = layers.per_layer(run["passes"], os.path.join(tmp, "eventlog"),
                                           session_s, e2e, wl.info, failed / attempted, spans,
                                           _cores())
            units = layers.UNITS
        else:
            metrics, units = e2e, layers.E2E_UNITS
        detail = {
            "workload": wl.name,
            "provenance": prov,
            "inputs": {k: v for k, v in wl.info.items() if isinstance(v, (int, float, dict))},
            "setup_samples_s": setup,
            "phases_s": phases,
            **stats,
            "steps": {r["step"]: [round(x["wall_s"], 4) for p in run["passes"] for x in p
                                  if x["step"] == r["step"]] for r in run["passes"][0]},
            "output_digests": wl.digests(),
            "digests_checked_against_record": len(wl.expected),
            "failures": run["failures"],
        }
        print(json.dumps(detail, default=str))
        print(json.dumps({
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        }))
        return 0
    finally:
        if spark is not None:
            stop_session(spark, clean=False)
        shutil.rmtree(tmp, ignore_errors=True)
        parent = os.path.dirname(tmp)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


if __name__ == "__main__":
    sys.exit(main())
