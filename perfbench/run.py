"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload turns --seed 1 --seconds 5 --trace 0

Run from the repository root. The Spark session comes from
``ml4logs_spark.session.get_spark`` with ``local[<cores>]``; all inputs
are generated from ``--seed`` under ``.perfbench_work/`` and removed at
exit. With ``--trace 0`` the metrics are the end-to-end metrics declared
in BENCHMARK.json; with ``--trace 1`` untraced and traced iterations
alternate and the metrics are the per-layer ones, with the spans written
to ``.perfbench_work/trace/<workload>-seed<seed>.json``. The last line of
standard output is one JSON object: correct, attempted, failed, metrics.
"""

from __future__ import annotations

import argparse
import filecmp
import gc
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3  # input generation is repeated; setup_s takes the median
JVM_HEAP = "2g"


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def declared() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def tail_summary(samples: list[float]) -> str:
    """Median, the highest percentile with at least ten samples beyond
    it, and the sample count."""
    n = len(samples)
    s = f"median {statistics.median(samples):.6g}, n={n}"
    for p in (99.9, 99, 95, 90, 75, 50):
        if n * (1 - p / 100) >= 10:
            k = min(n - 1, int(p / 100 * n))
            return s + f", p{p:g} {sorted(samples)[k]:.6g}"
    return s + ", no percentile has 10 samples beyond it"


def retained_heap_mb(spark) -> float:
    """JVM heap still in use after full collections. Python's collection
    runs first so dropped proxies release their JVM objects; the second
    JVM collection follows Spark's asynchronous cleaner."""
    gc.collect()
    jvm = spark.sparkContext._gateway.jvm
    jvm.java.lang.System.gc()
    time.sleep(0.2)
    jvm.java.lang.System.gc()
    return jvm.java.lang.management.ManagementFactory.getMemoryMXBean() \
        .getHeapMemoryUsage().getUsed() / (1024 * 1024)


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._gateway.jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM missing from /proc status")


def start_spark(work: str, cores: int):
    from ml4logs_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    return get_spark(
        app_name="perfbench",
        cores=cores,
        extra_conf={"spark.local.dir": tmp, "spark.ui.showConsoleProgress": "false"},
    )


def stop_spark(spark) -> None:
    """Stop the session and wait until the JVM it launched has exited."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits at end of its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def same_tree(a: str, b: str) -> bool:
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only or cmp.funny_files:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors and all(
        same_tree(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs
    )


class Runner:
    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.cores = len(os.sched_getaffinity(0))
        self.attempted = 0
        self.failed = 0

    def fail(self, it: int, what: str) -> None:
        self.failed += 1
        log(f"iteration {it} FAILED: {what}")

    def iteration(self, w, it: int, tracer, corrupt: bool = False):
        """Run, check and clean one iteration; returns (wall_s, batch_ms,
        layer metrics or None, retained heap MB); wall_s is None when the
        run raised."""
        from workloads import release_persisted

        from spans import busy_ms

        self.attempted += 1
        tracer.iteration = it
        w.before(it)
        if tracer.enabled:
            tracer.iter_first_job = tracer.status.max_job_id()
            tracer.persisted_mb_peak = 0.0
        t0_ms = time.time() * 1e3
        t0 = time.perf_counter()
        try:
            batch_ms = w.run(it, tracer)
        except Exception:
            self.fail(it, traceback.format_exc())
            w.cleanup(it)
            release_persisted(w.spark)
            return None, [], None, None
        wall = time.perf_counter() - t0
        t1_ms = time.time() * 1e3
        layers = None
        if tracer.enabled:
            # read before any cleanup, so persists left behind stay visible
            from ml4logs_spark import cache

            sc = w.spark.sparkContext
            jobs = tracer.status.jobs_after(tracer.iter_first_job)
            stage_ids = [s for j in jobs for s in j.stage_ids]
            run_s = tracer.status.stage_sum(stage_ids).exec_run_s
            layers = {
                "cache.persistent_rdds_after": len(sc._jsc.getPersistentRDDs()),
                "cache.tracked_frames_after": len(getattr(cache, "_TRACKED", [])),
                "cache.persisted_mb_peak": tracer.persisted_mb_peak,
                "session.core_idle_frac": 1 - run_s / (wall * self.cores),
                "session.driver_s": wall - busy_ms(jobs, t0_ms, t1_ms) / 1e3,
                "session.task_skew_max": tracer.status.task_skew(stage_ids),
            }
        try:
            if corrupt:
                w.corrupt(it)
            errs = w.check(it)
            if tracer.enabled:
                layers.update(w.layers(it, tracer))
        except Exception:
            errs = [traceback.format_exc()]
        if errs:
            self.fail(it, "; ".join(errs))
        w.cleanup(it)
        release_persisted(w.spark)
        # what outlives the iteration once its outputs are released
        return wall, batch_ms, layers, retained_heap_mb(w.spark)

    def run(self) -> dict:
        from workloads import SIZES, WORKLOADS, Ctx, Workload

        from spans import Tracer

        args = self.args
        t = time.perf_counter()
        spark = start_spark(self.work, self.cores)
        jvm_s = time.perf_counter() - t
        try:
            ctx = Ctx(spark, self.work, args.seed, SIZES[args.scale])
            w = Workload(ctx, WORKLOADS[args.workload])
            gen_s = []
            for r in range(SETUP_REPS):
                t = time.perf_counter()
                w.generate(ctx.path(f"gen{r}"))
                gen_s.append(time.perf_counter() - t)
            for r in range(1, SETUP_REPS):
                if not same_tree(ctx.path("gen0"), ctx.path(f"gen{r}")):
                    raise RuntimeError(f"input generation {r} differs from generation 0")
                shutil.rmtree(ctx.path(f"gen{r}"))
            os.rename(ctx.path("gen0"), ctx.path("input"))
            t = time.perf_counter()
            staged = w.stage()
            stage_s = time.perf_counter() - t
            # iteration 0 warms the JVM and plan caches: checked like any
            # other, timed into setup_s instead of wall_s; it skips the
            # parts that staging already warmed
            t = time.perf_counter()
            self.iteration(w, 0, Tracer(spark, False))
            warm_s = time.perf_counter() - t
            for secs in w.part_s.values():
                secs.clear()
            setup_s = jvm_s + statistics.median(gen_s) + stage_s + warm_s
            log(f"setup (seed {args.seed}): jvm {jvm_s:.2f}s, generate "
                f"{statistics.median(gen_s):.2f}s (median of {SETUP_REPS}), stage {stage_s:.2f}s "
                + " ".join(f"[{k} {v:.2f}s]" for k, v in staged.items())
                + f", warm-up iteration {warm_s:.2f}s")

            walls, batches, traced_walls, layer_rows, retained = [], [], [], [], []
            tracer, off = Tracer(spark, bool(args.trace)), Tracer(spark, False)
            start = time.perf_counter()
            it = 1
            while True:
                traced = bool(args.trace) and it % 2 == 0
                wall, b_ms, layers, heap_mb = self.iteration(
                    w, it, tracer if traced else off, corrupt=args.corrupt)
                if wall is not None and traced:
                    traced_walls.append(wall)
                elif wall is not None:
                    walls.append(wall)
                    batches.extend(b_ms)
                    retained.append(heap_mb)
                if layers is not None:
                    layer_rows.append(layers)
                it += 1
                done = time.perf_counter() - start >= args.seconds
                if done and (not args.trace or it > 2):
                    break
            peak_rss = jvm_peak_rss_mb(spark)
            if args.trace:
                self.write_spans(tracer)
        finally:
            stop_spark(spark)

        if not walls:
            raise RuntimeError("no measured iteration completed")
        spec = declared()
        if not args.trace:
            values = {
                "setup_s": setup_s,
                "wall_s": statistics.median(walls),
                "batch_p50_ms": statistics.median(batches),
                "heap_retained_mb": statistics.median(retained),
            }
            log(f"peak_rss_mb (VmHWM of the JVM): {peak_rss:.1f}")
            log(f"wall_s: {tail_summary(walls)}")
            log(f"batch_ms: {tail_summary(batches)}")
            for key, secs in w.part_s.items():
                log(f"part {key} s: {tail_summary(secs)}")
            metrics = spec["end_to_end"]
        else:
            values = {}
            for m in spec["per_layer"]:
                got = [row[m["name"]] for row in layer_rows if m["name"] in row]
                values[m["name"]] = float(statistics.median(got)) if got else 0.0
            values["session.peak_rss_mb"] = peak_rss
            if walls and traced_walls:
                values["session.trace_overhead_frac"] = (
                    statistics.median(traced_walls) / statistics.median(walls) - 1)
            metrics = spec["per_layer"]
        out = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in metrics}
        for name, v in out.items():
            print(f"{name} = {v['value']:.6g} {v['unit']}")
        print(f"failed_frac = {self.failed / max(self.attempted, 1):.6g} "
              f"({self.failed} of {self.attempted} operations)")
        return {
            "correct": self.failed == 0,
            "attempted": max(self.attempted, 1),
            "failed": self.failed,
            "metrics": out,
        }

    def write_spans(self, tracer) -> None:
        out = os.path.join(ROOT, ".perfbench_work", "trace")
        os.makedirs(out, exist_ok=True)
        path = os.path.join(out, f"{self.args.workload}-seed{self.args.seed}.json")
        with open(path, "w") as f:
            json.dump({"workload": self.args.workload, "seed": self.args.seed,
                       "spans": tracer.to_json()}, f, indent=1)
        log(f"spans written to {path}")


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["turns", "corpus"])
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=[0, 1])
    ap.add_argument("--scale", default="bench", choices=["bench", "smoke"],
                    help="input sizes (smoke: the sf0.001-sized smoke check)")
    ap.add_argument("--corrupt", action="store_true",
                    help="damage each iteration's output before it is checked")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "ml4logs_spark")):
        log(f"no ml4logs_spark package next to {HERE}; run from a repository checkout")
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # Python workers import the engine; temp files stay in the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["TMPDIR"] = os.environ["SPARK_LOCAL_DIRS"] = tmp
    tempfile.tempdir = None
    # the launcher JVM and the Spark JVM: no perf-data file, temp files here
    for var in ("SPARK_LAUNCHER_OPTS", "SPARK_SUBMIT_OPTS"):
        os.environ[var] = f"{os.environ.get(var, '')} -XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    # the session's own defaults, whatever the caller's environment holds
    for var in [v for v in os.environ if v.startswith("ML4S_")]:
        del os.environ[var]
    os.environ["ML4S_DRIVER_MEM"] = JVM_HEAP
    try:
        result = Runner(args, work).run()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
