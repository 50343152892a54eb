"""Pipeline benchmark: one seeded workload through the public
``Project``/``Pipeline`` API, on ``local[<cores>]``, in one process.

    python3 pipebench/run.py --workload medallion_etl --seed 1 --seconds 10 --trace 0

A run sets up twice, each time cold in a fresh process (session,
generated inputs, loaded project, timed from process start), and reports
the median as ``setup_s``: its own set-up, then a set-up-only child
process after its own session has ended. It runs untimed warm-up
passes (the JIT keeps speeding passes up for a few) and timed steady
passes until ``--seconds`` of pass time is measured. Before each pass, untimed, the cache is cleared and the
targets are deleted or restored, so every pass does the same work; after
it, untimed, the listener bus is drained, the pass's Spark jobs are
summed and the output is checked against a reference that does not run
the code under test. A pass fails if it raises or fails its check.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` alternates
untraced and traced passes and prints the per-layer metrics (see
tracing.py). The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.
"""

import time

T_PROCESS = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# Names only: workloads.py imports drune_spark, which must wait until
# main() has pinned the environment.
WORKLOAD_NAMES = ("medallion_etl", "corpus_dedup", "incremental_merge")
# Cold set-ups per run: this process's own plus SETUPS - 1 set-up-only
# child processes (``--setup-only``), one JVM at a time. Each costs about
# 10 s of JVM launch; more do not fit the run budget (NOTES.md).
SETUPS = 2
MIN_PASSES = 3
MB = 1e6

E2E_UNITS = {
    "setup_s": "s", "pass_s": "s", "task_s": "s", "shuffle_mb": "MB",
    "write_amp": "ratio", "driver_rss_mb": "MB",
}
LAYER_UNITS = {
    "config.s": "s",
    "sources.s": "s", "sources.jobs": "count",
    "plans.s": "s",
    "quality.s": "s", "quality.jobs": "count", "quality.task_s": "s",
    "operators.s": "s", "operators.jobs": "count", "operators.task_s": "s",
    "operators.cpu_s": "s",
    "sinks.s": "s", "sinks.jobs": "count", "sinks.task_s": "s",
    "sinks.shuffle_mb": "MB", "sinks.written_mb": "MB", "sinks.files": "count",
    "catalyst.plan_s": "s",
    "spark.jobs": "count", "spark.tasks": "count", "spark.job_ms_p50": "ms",
    "spark.idle_s": "s",
    "trace.pass_s": "s", "trace.outside_s": "s", "trace.overhead_s": "s",
}


def log(msg: str) -> None:
    print(f"# [{time.monotonic() - T_PROCESS:6.1f} s] {msg}", flush=True)


def generate(workload: str, seed: int, data_dir: str, n_files: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "gen.py"), "--workload", workload,
         "--seed", str(seed), "--out", data_dir, "--files", str(n_files)],
        check=True, capture_output=True, text=True, timeout=120,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


def check(workload: str, args: dict) -> tuple[bool, str]:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "check.py"), workload, json.dumps(args)],
        capture_output=True, text=True, timeout=150,
    )
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        return False, f"check exited {out.returncode}: {out.stderr.strip()[-300:]}"
    res = json.loads(lines[-1])
    return bool(res["ok"]), res["detail"]


def write_project(workload: str, work: str, data_dir: str, out_dir: str) -> str:
    """Copy the workload's YAML project into the work dir, pointing its
    vars at this run's inputs and outputs and Spark's scratch space at
    the work dir."""
    import yaml

    dst = os.path.join(work, "project")
    shutil.rmtree(dst, ignore_errors=True)
    shutil.copytree(os.path.join(HERE, "projects", workload), dst)
    cfg_path = os.path.join(dst, "drune.yml")
    with open(cfg_path) as fh:
        cfg = yaml.safe_load(fh)
    cfg["defaults"]["vars"].update(data_dir=data_dir, out_dir=out_dir)
    tmp = os.path.join(work, "tmp")
    cfg["defaults"]["engine"]["options"].update({
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    with open(cfg_path, "w") as fh:
        yaml.safe_dump(cfg, fh)
    return dst


class Bench:
    def __init__(self, args):
        self.args = args
        self.cpus = len(os.sched_getaffinity(0))
        self.work = os.path.join(ROOT, ".pipebench_work", args.workload)
        self.wl = None
        self.ctx = None
        self.ledger = None
        self.attempted = 0
        self.failed = 0

    # -- set-up ------------------------------------------------------------------
    def setup(self) -> float:
        """Session, inputs and project, timed from process start."""
        from workloads import WORKLOADS, Context
        from drune_spark import Project

        wl = WORKLOADS[self.args.workload]
        data_dir = os.path.join(self.work, "data")
        out_dir = os.path.join(self.work, "out")
        manifest = generate(wl.name, self.args.seed, data_dir, max(4, self.cpus))
        project = Project(write_project(wl.name, self.work, data_dir, out_dir))
        project.spark  # starts the session
        for name in wl.pipelines:
            project.load_pipeline_model(name)
        self.ctx = Context(project, manifest, data_dir, out_dir)
        wl.prepare(self.ctx)
        self.wl = wl
        return time.monotonic() - T_PROCESS

    def teardown(self) -> None:
        if self.ctx is not None:
            self.ctx.project.spark.stop()
        stop_jvm()
        shutil.rmtree(self.work, ignore_errors=True)

    # -- passes --------------------------------------------------------------------
    def one_pass(self, label: str, tracer=None, pass_id: int = 0):
        """Run one pass; returns (wall_s, start, end, batch, sink_frames)
        or None if it raised. The check runs after, outside the timing."""
        ctx, wl = self.ctx, self.wl
        wl.restore(ctx)
        ctx.project.spark.catalog.clearCache()
        self.ledger.take()
        self.attempted += 1
        if tracer is not None:
            tracer.begin_pass(pass_id)
        start, t0 = time.time(), time.perf_counter()
        try:
            wl.run_pass(ctx)
        except Exception:
            traceback.print_exc()
            self.failed += 1
            return None
        finally:
            wall, end = time.perf_counter() - t0, time.time()
            frames = tracer.end_pass() if tracer is not None else []
        batch = self.ledger.take()
        t_check = time.perf_counter()
        ok, detail = check(wl.name, wl.check_args(ctx))
        detail += f"; check took {time.perf_counter() - t_check:.2f} s"
        if not ok:
            self.failed += 1
        log(f"{label}: {wall:.3f} s, {len(batch.jobs)} jobs, task {batch.task_s:.2f} s "
            f"(cpu {batch.cpu_s:.2f} s), check {'ok' if ok else 'FAILED'} ({detail})")
        return wall, start, end, batch, frames

    def passes(self, traced: bool):
        """Warm-up, then timed passes until --seconds of pass time.
        Traced mode alternates an untraced and a traced pass."""
        from sparkstats import JobLedger

        # Benchmark bookkeeping, so after set-up: its first status API
        # request takes about 2 s.
        self.ledger = JobLedger(self.ctx.project.spark)
        for w in range(self.wl.warmup_passes):
            self.one_pass(f"warm-up {w} (not gated)")
        tracer = None
        if traced:
            from tracing import Tracer, plan_seconds
            tracer = Tracer(self.ctx.project.spark)
        plain, traced_passes = [], []
        measured, i = 0.0, 0
        while measured < self.args.seconds or len(plain) < MIN_PASSES or (
                traced and len(traced_passes) < MIN_PASSES):
            res = self.one_pass(f"pass {i}")
            if res is not None:
                plain.append(res)
                measured += res[0]
            if tracer is not None:
                tracer.install()
                try:
                    res = self.one_pass(f"pass {i} traced", tracer, i)
                finally:
                    tracer.uninstall()
                if res is not None:
                    # Catalyst time of the frames handed to the sink,
                    # read now (untimed) while the session is unchanged.
                    plan_s = sum(plan_seconds(df) for df in res[4])
                    traced_passes.append((i, res, plan_s))
                    measured += res[0]
            i += 1
            if self.failed > 2 * MIN_PASSES:
                break
        return plain, traced_passes, tracer

    # -- metrics -----------------------------------------------------------------
    def e2e_metrics(self, plain) -> dict:
        """Every end-to-end metric but setup_s (see main)."""
        inp = self.wl.input_bytes(self.ctx)
        med = statistics.median
        return {
            "pass_s": med(r[0] for r in plain),
            "task_s": med(r[3].task_s for r in plain),
            "shuffle_mb": med(r[3].shuffle_bytes / MB for r in plain),
            "write_amp": med(r[3].output_bytes / inp for r in plain),
            "driver_rss_mb": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0,
        }

    def layer_metrics(self, plain, traced_passes, tracer) -> dict:
        rows = [tracer.layer_metrics(pass_id, start, end, batch, plan_s)
                for pass_id, (_, start, end, batch, _), plan_s in traced_passes]
        out = {k: statistics.median(r[k] for r in rows)
               for k in LAYER_UNITS if k != "trace.overhead_s"}
        out["trace.overhead_s"] = out["trace.pass_s"] - statistics.median(r[0] for r in plain)
        return out


def stop_jvm() -> None:
    """End the py4j gateway JVM and wait for it: it exits when its stdin
    closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is None or proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def cold_setup(args) -> float:
    """One more cold set-up, in a fresh process; returns its setup_s."""
    out = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
         "--seed", str(args.seed), "--seconds", "0", "--setup-only"],
        cwd=ROOT, capture_output=True, text=True, timeout=150,
    )
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        raise RuntimeError(f"set-up child exited {out.returncode}: {out.stderr.strip()[-300:]}")
    return json.loads(lines[-1])["setup_s"]


def parse_args():
    ap = argparse.ArgumentParser(description="drune_spark pipeline benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--setup-only", action="store_true",
                    help="set up once, print {\"setup_s\": ...} and exit (see cold_setup)")
    return ap.parse_args()


def main() -> int:
    args = parse_args()
    if not os.path.isfile(os.path.join(ROOT, "drune_spark", "__init__.py")):
        print("pipebench: no drune_spark package next to the benchmark; "
              "run from a full checkout", file=sys.stderr)
        return 2
    bench = Bench(args)
    shutil.rmtree(bench.work, ignore_errors=True)
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(bench.work, sub))
    # Pinned before drune_spark is imported: its session defaults read it.
    os.environ.update(
        SPARK_GRAFT_CPUS=str(bench.cpus),
        SPARK_LOCAL_DIRS=os.path.join(bench.work, "spark-local"),
        TMPDIR=os.path.join(bench.work, "tmp"),
    )
    sys.path.insert(0, ROOT)
    if args.setup_only:
        try:
            print(json.dumps({"setup_s": bench.setup()}), flush=True)
        finally:
            bench.teardown()
        return 0
    try:
        setup_s = bench.setup()
        spark = bench.ctx.project.spark
        log(f"workload={args.workload} seed={args.seed} "
            f"SPARK_GRAFT_CPUS={bench.cpus} master={spark.sparkContext.master} "
            f"spark.driver.memory={spark.conf.get('spark.driver.memory')}")
        m = bench.ctx.manifest
        log("inputs: " + json.dumps({
            k: v for k, v in m.items() if k.endswith("share") or k == "tables"}))
        plain, traced_passes, tracer = bench.passes(bool(args.trace))
        if not plain or (args.trace and not traced_passes):
            print("pipebench: no pass completed", file=sys.stderr)
            return 1
        if args.trace:
            metrics, units = bench.layer_metrics(plain, traced_passes, tracer), LAYER_UNITS
            tracer.write(os.path.join(
                ROOT, ".pipebench_out", f"spans-{args.workload}-seed{args.seed}.json"))
        else:
            metrics, units = bench.e2e_metrics(plain), E2E_UNITS
    finally:
        bench.teardown()
    if not args.trace:
        # This process's JVM has ended, so each child starts cold alone.
        setups = [setup_s] + [cold_setup(args) for _ in range(SETUPS - 1)]
        log("cold set-ups (fresh process each): "
            + ", ".join(f"{s:.3f}" for s in setups) + " s")
        metrics["setup_s"] = statistics.median(setups)
    for k in units:
        log(f"{k:<20} {metrics[k]:>12.4f} {units[k]}")
    print(json.dumps({
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
