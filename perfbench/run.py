"""Benchmark of record for rust_gd_spark: planted-truth transcript workloads.

    python3 perfbench/run.py --workload turns_mixed --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. It generates the workload's input from
``--seed``, stages it as parquet under ``.bench_work/``, warms the Spark
session with one job, then runs jobs in a closed loop (each starts after
the previous one committed) until ``--seconds`` of job time are measured,
checking every job's output against the planted truth.

The last line of stdout is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the ``end_to_end`` metrics of BENCHMARK.json
with ``--trace 0``, its ``per_layer`` metrics with ``--trace 1``. The line
before it records the environment. Exit status: 0 when every check
passed, 1 when a job failed or a check did not hold (the result line is
still printed), 2 when the program cannot be imported (nothing printed).
See perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_work")
WORKLOAD_NAMES = ("turns_mixed", "stream_ingest")
STAGE_REPS = 3  # input set-ups per run; setup_s takes their median
# The warm-up job runs on a corpus of this share of the conversations: the
# cold cost (JIT, Python worker start and imports) barely depends on size.
WARM_SCALE = 0.1


def declared() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def result_line(section: list[dict], values: dict, attempted: int, failed: int) -> str:
    """The result object, with exactly the metrics ``section`` declares."""
    names = [m["name"] for m in section]
    if set(values) != set(names):
        raise ValueError(
            f"metrics differ from BENCHMARK.json: missing {sorted(set(names) - set(values))}, "
            f"undeclared {sorted(set(values) - set(names))}"
        )
    return json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]} for m in section
        },
    })


def _git_commit() -> str | None:
    head = os.path.join(ROOT, ".git", "HEAD")
    try:
        with open(head) as fh:
            ref = fh.read().strip()
        if not ref.startswith("ref: "):
            return ref
        ref = ref[5:]
        path = os.path.join(ROOT, ".git", ref)
        if os.path.exists(path):
            with open(path) as fh:
                return fh.read().strip()
        with open(os.path.join(ROOT, ".git", "packed-refs")) as fh:
            for line in fh:
                if line.rstrip().endswith(" " + ref):
                    return line.split()[0]
    except OSError:
        pass
    return None


def _source_digest() -> str:
    """sha256 over the program's sources: identifies the code measured when
    the checkout is not a git repository."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "rust_gd_spark")
    for dirpath, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                path = os.path.join(dirpath, f)
                h.update(os.path.relpath(path, ROOT).encode())
                with open(path, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def pin_environment(trace: bool) -> tuple[int, dict]:
    """``local[nproc]``, driver memory well below RAM, Spark scratch inside
    the checkout, UI on only for the traced run. Must run before the JVM
    starts."""
    cores = len(os.sched_getaffinity(0))
    phys_mb = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") >> 20
    driver_mb = max(512, min(1024, phys_mb // 8))
    local_dir = os.path.join(WORK, "spark-local")
    tmp = os.path.join(WORK, "tmp")
    for d in (local_dir, tmp):
        os.makedirs(d, exist_ok=True)
    # SPARK_LOCAL_DIRS overrides spark.local.dir, so both point inside
    os.environ["SPARK_LOCAL_DIRS"] = local_dir
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_DRIVER_MEM"] = f"{driver_mb}m"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    conf = {
        "spark.local.dir": local_dir,
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.enabled": "true" if trace else "false",
    }
    if trace:
        conf.update({
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.ui.retainedTasks": "1000",
            "spark.sql.ui.retainedExecutions": "10",
        })
    return cores, conf


def environment(args, cores: int, spark) -> dict:
    import numpy
    import pandas
    import pyarrow
    import pyspark

    return {
        "commit": _git_commit(),
        "source_sha256": _source_digest(),
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "cores": cores,
        "master": spark.sparkContext.master,
        "driver_memory": spark.conf.get("spark.driver.memory"),
        "local_dir": os.environ["SPARK_LOCAL_DIRS"],
        "versions": {
            "python": platform.python_version(),
            "java": spark.sparkContext._jvm.System.getProperty("java.version"),
            "pyspark": pyspark.__version__,
            "numpy": numpy.__version__,
            "pandas": pandas.__version__,
            "pyarrow": pyarrow.__version__,
        },
    }


def shutdown(spark) -> None:
    """Stop Spark and the JVM, and wait until every child process is gone."""
    import procs
    from pyspark import SparkContext

    pids = procs.descendants(os.getpid())[1:]
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
    procs.wait_gone(pids, timeout_s=30)


class Runner:
    """One workload in one Spark session: setup, closed loop, checks."""

    def __init__(self, wl, spark, out: str):
        self.wl, self.spark, self.out = wl, spark, out
        self.attempted = self.failed = 0
        self.jobs = []
        self.scores = []

    def setup(self, seed: int) -> tuple[float, float]:
        """Stage the input ``STAGE_REPS`` times, then warm the session.
        Returns (median staging time, warm-up time)."""
        stage_s = []
        for _ in range(STAGE_REPS):
            t = time.perf_counter()
            self.wl.stage(self.spark, seed)
            stage_s.append(time.perf_counter() - t)
        return statistics.median(stage_s), self.warm(seed)

    def warm(self, seed: int) -> float:
        """One job of the same workload on a small corpus; returns its time,
        staging included."""
        t = time.perf_counter()
        warm = type(self.wl)(os.path.join(WORK, "warmup"), scale=WARM_SCALE)
        warm.stage(self.spark, seed)
        warm.job(self.spark, os.path.join(self.out, "warmup"))
        return time.perf_counter() - t

    def one(self, job_fn=None):
        """Run and check one job; returns it, or None when it failed."""
        self.attempted += 1
        try:
            job = (job_fn or self.wl.job)(self.spark, self.out)
        except Exception:  # a failed job is a measured outcome, not a crash
            traceback.print_exc()
            self.failed += 1
            return None
        t = time.perf_counter()
        score = self.wl.check(self.spark, self.out, job)
        print(f"perfbench: job {job.wall_s:.2f}s, check {time.perf_counter() - t:.2f}s",
              file=sys.stderr)
        if score.problems:
            print(f"check failed on {self.wl.name}: {score.problems}", file=sys.stderr)
            self.failed += 1
        self.jobs.append(job)
        self.scores.append(score)
        return job

    def loop(self, seconds: float) -> None:
        spent = 0.0
        while spent < seconds and self.failed < 3:
            t = time.perf_counter()
            if self.one() is None:
                continue
            spent += time.perf_counter() - t

    def end_to_end(self, setup_s: float, peak_pss: int) -> dict:
        med = statistics.median
        jobs, scores = self.jobs, self.scores
        if not jobs:
            return {}
        return {
            "setup_s": setup_s,
            "turns_per_s": med(self.wl.n_turns / j.wall_s for j in jobs),
            "batch_commit_s": med(c for j in jobs for c in j.commits),
            "peak_pss_mb": peak_pss / 2**20,
            "pair_recall": med(s.recall for s in scores),
            "cluster_purity": med(s.purity for s in scores),
            "stored_bytes_ratio": med(s.stored_ratio for s in scores),
        }


def untraced_job(runner: Runner):
    """One job without spans; returns (the job or None when it failed, its
    epoch-time window, the check excluded)."""
    window = {}

    def job_fn(spark, out):
        window["start"] = time.time()
        try:
            return runner.wl.job(spark, out)
        finally:
            window["end"] = time.time()

    return runner.one(job_fn), window


def traced_job(runner: Runner):
    """One job with spans around every layer call; returns (the job or
    None when it failed, spans, root span)."""
    import layers
    import spans as sp

    tracer = sp.Tracer(runner.spark)
    layers.install(tracer)
    holder = {}

    def job_fn(spark, out):
        with tracer.span("job") as root:
            holder["root"] = root
            return runner.wl.job(spark, out)

    try:
        job = runner.one(job_fn)
    finally:
        tracer.restore()
    return job, tracer.spans, holder["root"]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        bench = declared()
        import rust_gd_spark  # noqa: F401
    except (OSError, ImportError) as e:
        print(f"perfbench: cannot run from {ROOT}: {e}", file=sys.stderr)
        return 2

    cores, conf = pin_environment(bool(args.trace))
    from rust_gd_spark.session import get_spark

    import procs
    import workloads

    out = os.path.join(WORK, "out", args.workload)
    shutil.rmtree(out, ignore_errors=True)
    spark = get_spark(app_name=f"perfbench-{args.workload}", cores=cores, extra_conf=conf)
    runner = Runner(workloads.WORKLOADS[args.workload](WORK), spark, out)
    try:
        start_s = time.perf_counter() - T_PROCESS
        env = environment(args, cores, spark)
        stage_s, warm_s = runner.setup(args.seed)
        setup_s = start_s + stage_s + warm_s
        print(f"perfbench: start {start_s:.2f}s, staging {stage_s:.2f}s, warm-up {warm_s:.2f}s",
              file=sys.stderr)

        if args.trace:
            values = trace_run(args, runner, cores, conf, start_s, warm_s)
            section = bench["per_layer"]
        else:
            with procs.PeakPss(os.getpid()) as mem:
                runner.loop(args.seconds)
            values = runner.end_to_end(setup_s, mem.peak)
            section = bench["end_to_end"]
        print(f"perfbench: {len(runner.jobs)} jobs, {time.perf_counter() - T_PROCESS:.2f}s "
              "since process start", file=sys.stderr)
        if not values:  # every job failed: nothing was measured
            values = {m["name"]: 0.0 for m in section}
        env["result_file"] = os.path.relpath(
            os.path.join(WORK, f"result-{args.workload}-{args.seed}-t{args.trace}.json"), ROOT
        )
        line = result_line(section, values, runner.attempted, runner.failed)
        with open(os.path.join(ROOT, env["result_file"]), "w") as fh:
            json.dump({"environment": env, "result": json.loads(line)}, fh, indent=1)
        print(json.dumps({"environment": env}))
        print(line, flush=True)
        return 0 if runner.failed == 0 else 1
    finally:
        shutdown(runner.spark)  # the traced run may have replaced the session


def trace_run(args, runner: Runner, cores: int, conf: dict, start_s, warm_s) -> dict:
    """Per-layer metrics: a traced job, then an untraced one, and on
    turns_mixed a one-core reference leg in a fresh, warmed ``local[1]``
    session.

    The untraced job runs second, so the session is at least as warm for
    it as for the traced one: the tracing overhead is not hidden by
    warming. The ``pipeline.*`` Spark counters come from the untraced job:
    the traced one adds a barrier per span (see spans.py).
    """
    import layers
    import spans as sp
    from rust_gd_spark.session import get_spark

    names = [m["name"] for m in declared()["per_layer"]]
    job, spans, root = traced_job(runner)
    untraced, window = untraced_job(runner)
    if None in (job, untraced):
        return {}
    jobs = sp.spark_jobs(runner.spark.sparkContext)
    sp.attribute(spans, jobs)
    m = layers.metrics(runner.spark, names, spans, sp.jobs_within(jobs, window), window,
                       cores, runner.wl, runner.out)
    m["session.start_s"] = start_s
    m["session.warmup_s"] = warm_s
    m["trace.turns_per_s"] = runner.wl.n_turns / job.wall_s
    m["trace.overhead_share"] = job.wall_s / untraced.wall_s - 1.0
    dump = {"workload": args.workload, "seed": args.seed, "cores": cores, "spark_jobs": jobs,
            "untraced_wall_s": untraced.wall_s}

    if args.workload == "turns_mixed":
        runner.spark.stop()
        runner.spark = get_spark(app_name="perfbench-1core", cores=1, extra_conf=conf)
        dump["one_core_warmup_s"] = runner.warm(args.seed)
        one_job, one_spans, one_root = traced_job(runner)
        if one_job is not None:
            m.update(layers.parallel_eff(spans, root, one_spans, one_root, cores))
        dump["one_core"] = {"spans": [
            {k: v for k, v in s.items() if k not in ("in", "out")} for s in one_spans
        ]}
    sp.dump(os.path.join(WORK, f"trace-{args.workload}-{args.seed}.json"), spans,
            {**dump, "per_layer": m})
    return m


if __name__ == "__main__":
    sys.exit(main())
