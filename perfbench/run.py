#!/usr/bin/env python3
"""Engine benchmark: one workload per invocation, closed loop.

    python3 perfbench/run.py --workload flagship_batch --seed 1 \\
        --seconds 10 --trace 0

Run from the root of a checkout of the repository. One driver thread
is the single client: it submits the next job only when the previous
one has finished. The Spark session runs as ``local[<cores>]``. The
seed is the only input; ``datagen`` turns it into the workload's
tables. Every job's output is checked.

``--trace 0`` prints the end-to-end metrics named in BENCHMARK.json;
``--trace 1`` prints the per-layer metrics (layers a workload does not
exercise read 0). Every metric is printed by name and unit, and the
last line of standard output is one JSON object. Per-job records,
including host steal and load, and the spans of traced runs are
written under ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
OUT = os.path.join(ROOT, ".perfbench_out")
SETUP_REPS = 3
# a capped heap keeps the JVM's resident size from following the G1
# heap's growth, which differs from run to run
DRIVER_MEM_MAX_MB = 1536

sys.path[:0] = [HERE, ROOT]

import procfs  # noqa: E402


def pin_environment() -> None:
    """Settings the engine reads from the environment, fixed here so a
    run depends only on this host's cores and memory."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp)
    for var in ("PROTOSC_SPARK_MASTER", "PROTOSC_SHUFFLE_PARTITIONS"):
        os.environ.pop(var, None)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        PROTOSC_DRIVER_MEM=f"{min(DRIVER_MEM_MAX_MB, int(procfs.host_ram_mb() / 4))}m",
        # Python workers import the engine from the checkout
        PYTHONPATH=os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        SPARK_LOCAL_DIRS=os.path.join(WORK, "spark-local"),
        SPARK_LOCAL_IP="127.0.0.1",
        TMPDIR=tmp,
    )


def session_conf(ui: bool) -> dict[str, str]:
    conf = {
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={WORK}/tmp",
        "spark.driver.host": "127.0.0.1",
        "spark.driver.bindAddress": "127.0.0.1",
    }
    if ui:
        conf.update({
            "spark.ui.enabled": "true",
            # keep every job of the run readable through the REST API
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        })
    return conf


class Bench:
    """One run: set-ups, timed jobs, and in a traced run the layer legs."""

    def __init__(self, args) -> None:
        from workloads import WORKLOADS

        self.args = args
        self.cls = WORKLOADS[args.workload]
        self.spark = None
        self.setup_errors: list[str] = []

    def setup(self):
        """Start the session, set the workload up SETUP_REPS times, then
        compute the references the job checks use and run the warm-up
        jobs, whose outputs are checked too.

        ``setup_s`` is the session start, plus the median set-up, plus
        the references and the warm-up. One SparkContext serves the
        whole run: pandas UDFs keep a handle on the context they were
        first used with, so it is never restarted. The UI, and its REST
        API, is on only in traced runs.
        """
        from protosc_spark.session import get_spark
        from spans import NullTracer

        t0 = time.perf_counter()
        self.spark = get_spark(app_name="perfbench",
                               extra_conf=session_conf(ui=bool(self.args.trace)))
        self.session_start_s = time.perf_counter() - t0
        walls, wl = [], None
        # a traced run reports no setup_s, so it sets up once
        for _ in range(1 if self.args.trace else SETUP_REPS):
            if wl is not None:
                wl.release()
            t0 = time.perf_counter()
            wl = self.cls(self.spark, self.args.seed, WORK)
            wl.setup()
            walls.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        wl.reference()
        warm_cpu = []
        for i in range(wl.WARMUP_JOBS):
            cpu0 = procfs.tree_cpu_s()
            err = wl.check(wl.job(-1 - i, NullTracer()))
            warm_cpu.append(procfs.tree_cpu_s() - cpu0)
            if err:
                self.setup_errors.append(f"warm-up job {i}: {err}")
        warm = time.perf_counter() - t0
        print("  set-ups: " + " ".join(f"{w:.3f}" for w in walls)
              + f" s; references and warm-up {warm:.3f} s (job cpu "
              + " ".join(f"{c:.2f}" for c in warm_cpu) + " s)", flush=True)
        self.setup_s = self.session_start_s + statistics.median(walls) + warm
        err = wl.oracle_check()
        if err:
            self.setup_errors.append(err)
        return wl

    def measure(self, wl, seconds: float, tracer, group: str = "job") -> list[dict]:
        """Closed loop for ``seconds``: at least one job, and no new job
        once the time is up. Job ``i`` runs under Spark job group
        ``<group>-<i>``. Returns one record per job."""
        from workloads import set_group

        jobs: list[dict] = []
        t_end = time.perf_counter() + seconds
        while not jobs or time.perf_counter() < t_end:
            i = len(jobs)
            set_group(self.spark, f"{group}-{i}")
            tracer.job = i
            host = procfs.Contention()
            cpu0 = procfs.tree_cpu_s()
            err = result = None
            with procfs.RssSampler() as rss:
                t0 = time.perf_counter()
                try:
                    with tracer.span("job"):
                        result = wl.job(i, tracer)
                except Exception:  # a failed job is counted; the loop goes on
                    err = traceback.format_exc(limit=3)
                wall = time.perf_counter() - t0
            cpu = procfs.tree_cpu_s() - cpu0
            rec = {"job": i, "wall_s": wall, "cpu_s": cpu,
                   "turns": wl.turns, "peak_rss_mb": rss.peak_mb, **host.read()}
            if err is None:
                try:
                    err = wl.check(result)
                except Exception:
                    err = traceback.format_exc(limit=3)
            rec["error"] = err
            jobs.append(rec)
            print(f"  job {i}: {wall:.3f} s  cpu {cpu:.2f} s  steal {rec['steal_frac']:.3f}  "
                  f"load1 {rec['loadavg1']:.2f}" + ("  FAILED" if err else ""),
                  flush=True)
            if err:
                print(err, file=sys.stderr, flush=True)
        return jobs

    def end_to_end(self, jobs: list[dict]) -> dict:
        ok = [j for j in jobs if j["error"] is None] or jobs
        return {
            "setup_s": self.setup_s,
            "turns_per_s": _turns_per_s(ok),
            "job_s_p50": statistics.median(j["wall_s"] for j in ok),
            "cpu_s_per_mturn": statistics.median(
                j["cpu_s"] / j["turns"] * 1e6 for j in ok
            ),
            "peak_rss_mb": statistics.median(j["peak_rss_mb"] for j in ok),
            "failed_frac": sum(j["error"] is not None for j in jobs) / len(jobs),
        }

    def per_layer(self, wl, untraced: list[dict]) -> tuple[dict, list[dict]]:
        """Traced half of a ``--trace 1`` run: the same closed loop with
        spans recorded, then Spark's metrics and the layer legs."""
        from spans import SparkRest, Tracer

        tracer = Tracer()
        wl.trace_calls(tracer)
        try:
            jobs = self.measure(wl, self.args.seconds / 2, tracer, "traced")
        finally:
            tracer.unwrap()
        rest = SparkRest(self.spark.sparkContext)
        engine = [rest.group_metrics(f"traced-{j['job']}", j["wall_s"]) for j in jobs]
        res = {
            f"spark.{k}": statistics.median(e[k] for e in engine)
            for k in engine[0] if not k.startswith("python_")
        }
        res["session.start_s"] = self.session_start_s
        plans = [s["end"] - s["start"] for s in tracer.spans
                 if s["name"] == "pipeline.plan"]
        if plans:
            res["pipeline.plan_s"] = statistics.median(plans)
        res["trace.overhead_ratio"] = _turns_per_s(jobs) / _turns_per_s(untraced)
        tracer.job = None
        try:
            res.update(wl.legs(tracer, rest))
        except AssertionError as e:  # a leg's output check failed
            self.setup_errors.append(str(e))
        res["trace.job_s_p50"] = statistics.median(j["wall_s"] for j in jobs)
        os.makedirs(OUT, exist_ok=True)
        tracer.dump(os.path.join(
            OUT, f"trace-{self.args.workload}-seed{self.args.seed}.json"))
        return res, jobs

    def run(self) -> dict:
        from spans import NullTracer

        wl = self.setup()
        seconds = self.args.seconds / (2 if self.args.trace else 1)
        jobs = self.measure(wl, seconds, NullTracer())
        metrics = self.end_to_end(jobs)
        all_jobs = list(jobs)
        if self.args.trace:
            layers, traced_jobs = self.per_layer(wl, jobs)
            all_jobs += traced_jobs
            metrics.update(layers)
        failed = sum(j["error"] is not None for j in all_jobs)
        record = {
            "workload": self.args.workload, "seed": self.args.seed,
            "trace": self.args.trace, "cpus": len(os.sched_getaffinity(0)),
            "setup_errors": self.setup_errors, "jobs": all_jobs,
            "metrics": metrics,
        }
        os.makedirs(OUT, exist_ok=True)
        with open(os.path.join(OUT, f"run-{self.args.workload}-seed{self.args.seed}"
                               f"-trace{self.args.trace}.json"), "w") as fh:
            json.dump(record, fh, indent=1)
        steal = [j["steal_frac"] for j in all_jobs]
        print(f"host: {record['cpus']} cpus, steal median {statistics.median(steal):.4f}"
              f" max {max(steal):.4f}, load1 {all_jobs[-1]['loadavg1']:.2f}")
        return {
            "correct": failed == 0 and not self.setup_errors,
            "attempted": len(all_jobs),
            "failed": failed,
            "all_metrics": metrics,
        }

    def close(self) -> None:
        """Stop the session and the JVM, and wait for every process this
        run started to end."""
        from pyspark import SparkContext

        kids = procfs.tree_pids()[1:]
        if self.spark is not None:
            self.spark.stop()
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            gw.proc.stdin.close()  # the JVM exits on end of its stdin
            try:
                gw.proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                gw.proc.kill()
                gw.proc.wait()
            SparkContext._gateway = SparkContext._jvm = None
        deadline = time.time() + 30
        while kids and time.time() < deadline:
            kids = [p for p in kids if procfs.alive(p)]
            time.sleep(0.1)
        for p in kids:
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass
        while any(procfs.alive(p) for p in kids):
            time.sleep(0.1)


def _turns_per_s(jobs: list[dict]) -> float:
    return statistics.median(j["turns"] / j["wall_s"] for j in jobs)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    if importlib.util.find_spec("protosc_spark") is None:
        print("protosc_spark not found: run from the root of a checkout",
              file=sys.stderr)
        return 2

    shutil.rmtree(WORK, ignore_errors=True)
    pin_environment()
    bench = Bench(args)
    try:
        res = bench.run()
    finally:
        bench.close()
        shutil.rmtree(WORK, ignore_errors=True)

    wanted = spec["per_layer" if args.trace else "end_to_end"]
    got = res.pop("all_metrics")
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    units["failed_frac"] = "ratio"
    for name in sorted(got):
        print(f"{args.workload} {name} = {got[name]:.6g} {units.get(name, '')}")
    res["metrics"] = {
        m["name"]: {"value": float(got.get(m["name"], 0.0)), "unit": m["unit"]}
        for m in wanted
    }
    print(json.dumps(res))
    return 0


if __name__ == "__main__":
    sys.exit(main())
