"""Seeded end-to-end and layer-attributed benchmark of pdf_table_spark.

Run from the repository root:

    python3 perfbench/run.py --workload pdf_tables --seed 1 --seconds 10 \\
        --trace 0

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the
per-layer metrics of a traced run (see perfbench/README.md). The last
line of standard output is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``. The exit code is 0 only
when every job's output check passed.

Everything the run writes (generated inputs, Spark scratch space,
checkpoint output, traces) goes under ``.perfbench_work/`` in the
repository root.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()  # process start, for the first set-up

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
N_SETUPS = 4
# a fixed, small driver heap: resident memory then tracks what the
# program uses, not how far the JVM chose to grow build_session's 8g
DRIVER_MEMORY = "2g"
WARM_S = 4.0  # untimed whole jobs before timing (see warm_up)
# Host-speed reference. The per-core speed of a shared host swings by up
# to 3x over minutes (other tenants, not visible as steal time), and
# every wall time follows it. After each set-up and between jobs, nproc
# forked processes run a fixed pure-Python loop (HostProbe); the time
# metrics are scaled to a host on which that probe takes PROBE_REF_S.
PROBE_LOOPS = 600_000
PROBE_REPEAT = 3
PROBE_REF_S = 0.21
# How far set-up walls follow the probe: over runs whose median probe
# spanned 2.9-3.1x, the log-log slope of the set-up wall against it
# was 0.51 (pdf_tables) and 0.54 (text_assembly). Set-up is partly
# waiting (context stop and start), which a faster core does not
# shorten. Each workload's job elasticity is in workloads.py.
SETUP_ELASTICITY = 0.5


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def configure_env(nproc: int) -> None:
    """Worker import path, core count and every scratch directory,
    set before the JVM starts so Spark and its workers inherit them."""
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    warehouse = os.path.join(WORK, "warehouse")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + old if old else "")
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    java = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = java
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf", shlex.quote(f"spark.driver.extraJavaOptions={java}"),
        "--conf", shlex.quote(f"spark.sql.warehouse.dir={warehouse}"),
        "pyspark-shell"])


class Session:
    """The one Spark session of a run, on ``local[nproc]`` through
    ``spark.session.build_session``."""

    def __init__(self, nproc: int):
        self.master = f"local[{nproc}]"
        self.spark = None
        self._seen: set[int] = set()

    def start(self):
        from pdf_table_spark.spark.session import build_session
        self.spark = build_session("perfbench", master=self.master)
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def restart(self):
        self._remember_children()
        self.spark.stop()
        return self.start()

    def _remember_children(self) -> None:
        from perfbench.sparkstats import descendants
        self._seen.update(descendants(os.getpid()))

    def close(self) -> None:
        """Stop Spark and the JVM, then wait for every process this run
        started (the JVM and its Python workers) to end."""
        from pyspark import SparkContext
        self._remember_children()
        if self.spark is not None:
            self.spark.stop()
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                proc.stdin.close()  # the gateway JVM exits on stdin EOF
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=30)
            SparkContext._gateway = None
            SparkContext._jvm = None
        _wait_gone(self._seen)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _wait_gone(pids, timeout: float = 30.0) -> None:
    deadline = time.monotonic() + timeout
    while any(_alive(p) for p in pids) and time.monotonic() < deadline:
        time.sleep(0.1)
    for p in pids:
        if _alive(p):
            os.kill(p, signal.SIGKILL)
    while any(_alive(p) for p in pids) and time.monotonic() < deadline + 10:
        time.sleep(0.1)


def _probe_loop(n: int) -> int:
    s, d = 0, {}
    for i in range(n):
        d[i & 1023] = i * i
        s += len(str(i))
    return s


def _cpu_s(pids) -> float:
    """User + system CPU seconds used so far by the given processes."""
    ticks = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # ended since it was listed
        ticks += int(fields[11]) + int(fields[12])
    return ticks / os.sysconf("SC_CLK_TCK")


def wait_quiet(max_s: float = 3.0, window_s: float = 0.2,
               busy: float = 0.1) -> None:
    """Wait (at most ``max_s``) until this run's own processes, the JVM
    and the Python workers, use under ``busy`` of one core over
    ``window_s``. The host probe then measures the host, not the
    program's background work (JIT compiler, GC)."""
    from perfbench.sparkstats import descendants
    deadline = time.monotonic() + max_s
    while time.monotonic() < deadline:
        pids = descendants(os.getpid())
        c0 = _cpu_s(pids)
        time.sleep(window_s)
        if _cpu_s(pids) - c0 < busy * window_s:
            return


class HostProbe:
    """Each call: once the program is quiet, the median of PROBE_REPEAT
    timings of ``nproc`` forked processes running the fixed loop at
    once; every child is waited for. One timing reads ±10 % from one
    second to the next on a steady host, with outliers beyond that."""

    def __init__(self, nproc: int):
        self.nproc = nproc
        self.samples: list[float] = []

    def _once(self) -> float:
        t0 = time.perf_counter()
        pids = []
        try:
            for _ in range(self.nproc):
                pid = os.fork()
                if pid == 0:
                    try:
                        _probe_loop(PROBE_LOOPS)
                    finally:
                        os._exit(0)
                pids.append(pid)
        finally:
            for pid in pids:
                os.waitpid(pid, 0)
        return time.perf_counter() - t0

    def __call__(self) -> float:
        wait_quiet()
        times = sorted(self._once() for _ in range(PROBE_REPEAT))
        self.samples.append(times[len(times) // 2])
        return self.samples[-1]

    def scale(self, elasticity: float, lo: int = 0,
              hi: int | None = None) -> float:
        """Factor that takes a time to the reference host, for a time
        that moves as (probe time) ** ``elasticity``, from the median of
        probes ``lo:hi``."""
        from perfbench.workloads import median
        return (PROBE_REF_S / median(self.samples[lo:hi])) ** elasticity


def run_info(nproc: int) -> dict:
    import pyarrow
    import pyspark

    from pdf_table_spark.canary import cpu_probe
    from perfbench.workloads import source_digest
    commit = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                           capture_output=True, text=True, check=False)
        commit = r.stdout.strip() or None
    return {"nproc": nproc, "cpu_probe": cpu_probe(0.3),
            "spark": pyspark.__version__, "pyarrow": pyarrow.__version__,
            "git_commit": commit,
            "source_digest": source_digest(ROOT, "pdf_table_spark")}


def timed_jobs(wl, spark, seconds: float, rss, step, probe,
               selftest=False):
    """Closed loop: one step at a time, as many as fit in ``seconds``
    at the mean step time so far (at least one), with a host
    probe before the first step and after each. A step runs jobs; each
    job's output is checked and counts as one operation, and notes the
    index of the probe taken just before its step. With
    ``selftest`` a copy of each correct output with one row corrupted
    must fail the check too. Returns (correct jobs, attempted, failed,
    error messages)."""
    done, attempted, failed, errors = [], 0, 0, []
    start = time.perf_counter()
    probe()
    i = 0
    while not errors:
        before = len(probe.samples) - 1
        try:
            with rss.active():
                jobs = step(i)
        except Exception:  # noqa: BLE001 — report the failed job, stop
            attempted += 1
            failed += 1
            errors.append(traceback.format_exc())
            break
        probe()
        for job in jobs:
            job.probe_at = before
            attempted += 1
            problem = wl.check(spark, job)
            if selftest and problem is None:
                bad = wl.corrupt(spark, job)
                if wl.check(spark, bad) is None:
                    problem = "a corrupted output row passed the check"
                wl.finish(bad)
            wl.finish(job)
            if problem is None:
                done.append(job)
            else:
                failed += 1
                errors.append(problem)
        i += 1
        # a step that would end past the window is not started, so the
        # number of jobs does not flip with small changes in job wall
        if (time.perf_counter() - start) * (i + 1) / i > seconds:
            break
    return done, attempted, failed, errors


def warm_up(wl, spark) -> None:
    """Untimed: the oracle for the output check, then whole jobs
    (compiling their plans) for WARM_S, at least one. Job walls keep
    falling for several jobs after a session start: the first
    full-size ``pdf_tables`` job ran 10-20 % slower than the third, and
    the first ``text_assembly`` job took twice as long as the second."""
    wl.prepare_oracle()
    t0 = time.perf_counter()
    while True:
        wl.finish(wl.job(spark))
        if time.perf_counter() - t0 > WARM_S:
            break


def untraced(wl, sess, seconds, rss, selftest, nproc):
    from perfbench.metrics import END_TO_END, report
    from perfbench.sparkstats import MIB
    from perfbench.workloads import median

    probe = HostProbe(nproc)
    setups = []
    wl.prepare_inputs()
    spark = sess.start()
    wl.load(spark)
    wl.warm_workers(spark)
    setups.append(time.perf_counter() - T_START)
    probe()
    for _ in range(N_SETUPS - 1):
        t0 = time.perf_counter()
        spark = sess.restart()
        wl.load(spark)
        wl.warm_workers(spark)
        setups.append(time.perf_counter() - t0)
        probe()
    k0 = len(probe.samples)  # the set-up probes end here
    t0 = time.perf_counter()
    warm_up(wl, spark)
    warm_s = time.perf_counter() - t0
    done, attempted, failed, errors = timed_jobs(
        wl, spark, seconds, rss, lambda i: [wl.job(spark)], probe, selftest)
    walls = [j.wall for j in done]
    # Both time metrics are scaled to a host whose probe reads
    # PROBE_REF_S: a set-up by the set-up probes, a job by the four probes
    # nearest to it (two before, two after), which follows a change of
    # host speed in the middle of a run. The median is over scaled times.
    e = wl.host_elasticity
    ref_walls = [j.wall * probe.scale(e, max(k0, j.probe_at - 1),
                                      j.probe_at + 3) for j in done]
    n_docs = wl.meta["n_docs"]
    values = {
        "setup_s": median(setups) * probe.scale(SETUP_ELASTICITY, 0, k0),
        "docs_per_s": (n_docs / median(ref_walls)) if done else 0.0,
        "peak_rss_mb": median(rss.window_peaks) / MIB,
    }
    detail = {"setups_s": setups, "probes_s": probe.samples,
              "setup_probes": k0,
              "job_peak_rss_mb": [b / MIB for b in rss.window_peaks],
              "warmup_s": warm_s, "job_walls_s": walls,
              "raw_docs_per_s": (n_docs / median(walls)) if walls else 0.0,
              "released": [j.out["released"] for j in done],
              "n_docs": n_docs}
    return report(values, END_TO_END), attempted, failed, errors, detail


def traced(wl, sess, seconds, rss, nproc, info):
    """Per-layer run: each iteration runs the layer prefixes, then the
    job traced, then the same job untraced for the overhead."""
    from perfbench.metrics import PER_LAYER, report
    from perfbench.sparkstats import StatusStore, Tracer
    from perfbench.workloads import median

    wl.prepare_inputs()
    spark = sess.start()
    wl.load(spark)
    wl.warm_workers(spark)
    warm_up(wl, spark)
    store, tracer = StatusStore(spark), Tracer()
    once = wl.trace_once(spark, tracer, store)
    iters = []

    def step(i):
        vals = wl.prefixes(spark, tracer, store, i)
        more, job = wl.traced_job(spark, tracer, store, i, vals)
        vals.update(more)
        iters.append(vals)
        job.traced = True
        return [job, wl.job(spark)]

    probe = HostProbe(nproc)
    done, attempted, failed, errors = timed_jobs(
        wl, spark, seconds, rss, step, probe)
    layer = {k: median([it[k] for it in iters]) for k in
             (iters[0] if iters else {})}
    layer.update(once)
    job_wall = median([j.wall for j in done if not j.traced])
    traced_wall = median([j.wall for j in done if j.traced])
    self_sum = median([sum(it[k] for k in wl.self_keys) for it in iters])
    layer.update({
        "failed_ops_share": failed / max(attempted, 1),
        "trace.job_wall_s": job_wall,
        "trace.traced_wall_s": traced_wall,
        "trace.overhead": (traced_wall / job_wall - 1.0) if job_wall else 0.0,
        "trace.layer_sum_s": self_sum,
        "trace.coverage": (self_sum / job_wall) if job_wall else 0.0,
        "run.cpu_probe": info["cpu_probe"],
        "run.host_probe_s": median(probe.samples),
        "run.nproc": nproc,
    })
    os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
    tracer.write(os.path.join(WORK, "traces",
                              f"{wl.name}-seed{wl.seed}.json"),
                 info=info, layer=layer, iterations=iters)
    detail = {"job_walls_s": [j.wall for j in done],
              "iterations": len(iters)}
    return report(layer, PER_LAYER), attempted, failed, errors, detail


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full",
                    help="input size; 'tiny' is for the self-test")
    ap.add_argument("--selftest", action="store_true",
                    help="also require the check to reject a copy of "
                         "each output with one row corrupted")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "pdf_table_spark",
                                       "__init__.py")):
        log(f"no pdf_table_spark package under {ROOT}; run from a "
            "checkout of the repository")
        return 2
    nproc = len(os.sched_getaffinity(0))
    configure_env(nproc)
    sys.path.insert(0, ROOT)
    from perfbench import workloads
    from perfbench.sparkstats import RssSampler

    wl = workloads.make(args.workload, ROOT, WORK, args.seed, args.scale)
    sess = Session(nproc)
    try:
        with RssSampler() as rss:
            if args.trace:
                info = run_info(nproc)
                metrics, attempted, failed, errors, detail = traced(
                    wl, sess, args.seconds, rss, nproc, info)
            else:
                metrics, attempted, failed, errors, detail = untraced(
                    wl, sess, args.seconds, rss, args.selftest, nproc)
                info = run_info(nproc)
    finally:
        sess.close()
        wl.close()
    for e in errors:
        log(f"job failed: {e}")
    record = {"workload": args.workload, "seed": args.seed,
              "trace": args.trace, "info": info, "detail": detail,
              "metrics": metrics}
    os.makedirs(os.path.join(WORK, "runs"), exist_ok=True)
    with open(os.path.join(WORK, "runs", f"{args.workload}-seed{args.seed}"
                           f"-trace{args.trace}.json"), "w") as f:
        json.dump(record, f, indent=1)
    log(json.dumps({"info": info, "detail": detail}))
    correct = not errors and attempted > 0
    print(json.dumps({"correct": correct, "attempted": max(attempted, 1),
                      "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
