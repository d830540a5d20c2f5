"""Archive-lifecycle benchmark for razulibs_spark.

    python3 perfbench/run.py --workload sip_lifecycle --seed 1 --seconds 1 --trace 0

Workloads (see workloads.py): sip_lifecycle and corpus_curation;
`--workload all` runs both, each in its own process. One process per
workload, `local[nproc]`, a closed loop of back-to-back iterations for
at least `--seconds` seconds, fresh output directories per iteration
under `.perfbench_work/` in the repository root (removed on exit).

`--trace 0` reports the end-to-end metrics. Their times are CPU
seconds of this process, the JVM and its Python workers: `run_cpu_s`
of one iteration (the median over the run), and `setup_s` of launching
the JVM, starting the session and answering a first query (input
generation is not part of it). Both steps keep two to three of four
cores busy, so on a few cores of a shared host their wall time follows
the other tenants more than their CPU time does. On a 4-vCPU VM, three
busy processes beside a set-up made its wall time two thirds longer
and its CPU time under a tenth; over ten seeds per workload the
quartile spread of an iteration's wall time was 1.4 to 1.8 times that
of its CPU time. The wall times are printed (`run_s`, `items_per_s`)
with the share of host CPU time stolen by the hypervisor during the
run.

`--trace 1` traces the first iteration, which runs as cold as an
untraced run's, and reports the per-layer metrics and self times; it
then times one untraced and one traced warm iteration for
`trace.overhead_ratio` (the untraced one runs first and still carries
some warm-up, so the ratio reads low).
`trace.run_s` compares with an untraced run's `run_s`.
Human-readable lines go first; the last line of standard output is one
JSON object with the keys `correct`, `attempted`, `failed` and `metrics`.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shlex
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOAD_NAMES = ["sip_lifecycle", "corpus_curation"]
HEAP = "1g"  # JVM heap; session.py defaults to 16g, more than a small host has
MIN_ITERATIONS = 1
# workload size: records or documents
SIZES = {"sip_lifecycle": 100, "corpus_curation": 2000}


class RssSampler(threading.Thread):
    """Peak resident memory of the JVM and its Python workers. Resets
    each process's high-water mark (`clear_refs` 5) when started, then
    polls `VmHWM` from /proc and keeps the largest value seen per
    process; the peak is the sum over processes."""

    def __init__(self, root_pid: int, period: float = 0.2):
        super().__init__(daemon=True)
        self.root_pid, self.period = root_pid, period
        self.peak_kb: dict[int, int] = {}
        self._stop_evt = threading.Event()

    def family(self) -> list[int]:
        """The root process and all its descendants."""
        parent = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                try:
                    with open(f"/proc/{d}/stat") as fh:
                        parent[int(d)] = int(fh.read().rsplit(")", 1)[1].split()[1])
                except (OSError, IndexError, ValueError):
                    continue
        family, frontier = [self.root_pid], [self.root_pid]
        while frontier:
            frontier = [p for p, pp in parent.items() if pp in frontier]
            family += frontier
        return family

    def _sample(self) -> None:
        for pid in self.family():
            try:
                with open(f"/proc/{pid}/status") as fh:
                    for line in fh:
                        if line.startswith("VmHWM:"):
                            kb = int(line.split()[1])
                            self.peak_kb[pid] = max(kb, self.peak_kb.get(pid, 0))
                            break
            except OSError:
                continue

    def start(self) -> None:
        for pid in self.family():
            try:
                with open(f"/proc/{pid}/clear_refs", "w") as fh:
                    fh.write("5")
            except OSError:
                pass
        super().start()

    def run(self) -> None:
        while not self._stop_evt.wait(self.period):
            self._sample()

    def stop(self) -> float:
        """Stop sampling; returns the peak in MB."""
        self._stop_evt.set()
        self.join(timeout=10)
        self._sample()
        return sum(self.peak_kb.values()) / 1024.0


def host_fit(work: str) -> int:
    """Pin parallelism to the host, fit the JVM heap, and keep every
    scratch file Spark, the JVM and Python write under `work`."""
    ncpu = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(ncpu)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = HEAP
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    # Python workers import the program from the checkout, whatever the cwd
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    # The heap is committed and touched up front (-Xms, AlwaysPreTouch),
    # so peak RSS does not depend on when the collector grows the heap.
    java_opts = (f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{HEAP} "
                 "-XX:+AlwaysPreTouch")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf " + shlex.quote(f"spark.driver.extraJavaOptions={java_opts}") + " pyspark-shell")
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    return ncpu


def start_session(ncpu: int):
    from razulibs_spark.session import get_spark

    spark = get_spark("perfbench", cpus=ncpu)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).selectExpr("sum(id)").collect()  # first query plans and runs
    return spark


def cpu_seconds(pid: int) -> float:
    """User + system CPU time of process `pid`, its threads and the
    children it has waited for, from /proc/<pid>/stat."""
    with open(f"/proc/{pid}/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    return sum(int(x) for x in fields[11:15]) / os.sysconf("SC_CLK_TCK")


def family_cpu(sampler: RssSampler) -> float:
    """CPU seconds so far of this process, the JVM and its Python workers."""
    own = os.times()
    total = own.user + own.system
    for pid in sampler.family():
        try:
            total += cpu_seconds(pid)
        except OSError:
            continue
    return total


def cpu_ticks() -> list[int]:
    """The host's CPU time counters from /proc/stat (user, nice, system,
    idle, iowait, irq, softirq, steal, ...)."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def set_up(ncpu: int):
    """One set-up: launch the JVM, start the session and answer its first
    query. Returns the session, the wall seconds and the CPU seconds the
    JVM and this process spent on it."""
    from pyspark import SparkContext

    own = os.times()
    cpu0 = own.user + own.system
    t = time.perf_counter()
    spark = start_session(ncpu)
    wall = time.perf_counter() - t
    own = os.times()
    cpu = cpu_seconds(SparkContext._gateway.proc.pid) + own.user + own.system - cpu0
    return spark, wall, cpu


def stop_jvm() -> None:
    """Shut the py4j gateway and wait for the JVM process to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    finally:
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the gateway server exits on stdin EOF
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def environment(spark, ncpu: int) -> dict:
    return {
        "nproc": ncpu,
        "loadavg": [round(x, 2) for x in os.getloadavg()],
        "spark": spark.version,
        "python": platform.python_version(),
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "heap": HEAP,
    }


def run_workload(args) -> int:
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    ncpu = host_fit(work)
    sys.path.insert(0, ROOT)
    try:
        import razulibs_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the program under test is not importable from {ROOT}: {exc}",
              file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        return 3
    from perfbench.trace import Tracer, layer_metrics, traced_layers
    from perfbench.workloads import WORKLOADS

    spark = None
    try:
        t = time.perf_counter()
        wl = WORKLOADS[args.workload](os.path.join(work, "main"), args.seed, SIZES[args.workload])
        wl.generate()
        gen_s = time.perf_counter() - t

        import razulibs_spark.session  # noqa: F401  (imports pyspark untimed)

        spark, setup_wall, setup_cpu = set_up(ncpu)
        tracer = Tracer(spark)
        env = environment(spark, ncpu)

        from pyspark import SparkContext

        sampler = RssSampler(SparkContext._gateway.proc.pid)
        sampler.start()
        # With --trace 1 the first iteration is traced, under the same cold
        # conditions as an untraced run's; untraced/traced pairs follow to
        # measure the tracing overhead on equal (warm) terms.
        runs = []  # (iteration, traced, seconds, outcome or None)
        cpu_s = []  # CPU seconds of each iteration
        ticks0 = cpu_ticks()
        t_run = time.perf_counter()
        it = 0
        while True:
            traced = bool(args.trace) and it % 2 == 0
            wl.before(it)
            tracer.enabled, tracer.iteration = traced, it
            c = family_cpu(sampler)
            t = time.perf_counter()
            outcome, dt = None, 0.0
            try:
                with traced_layers(tracer) if traced else nullcontext():
                    with tracer.span("iteration"):
                        r = wl.iterate(spark, tracer, it)
                    dt = time.perf_counter() - t
                    cpu_s.append(family_cpu(sampler) - c)
                    outcome = wl.check(spark, tracer, it, r)
            except Exception:  # one failed iteration must not end the run
                traceback.print_exc(file=sys.stderr)
                dt = dt or time.perf_counter() - t
                spark.catalog.clearCache()
            tracer.enabled = False
            if outcome is not None and outcome.problems:
                print(f"iteration {it} failed its checks: " + "; ".join(outcome.problems),
                      file=sys.stderr)
            runs.append((it, traced, dt, outcome))
            it += 1
            enough = it % 2 == 1 and it >= 3 if args.trace else it >= MIN_ITERATIONS
            if enough and time.perf_counter() - t_run >= args.seconds:
                break
        ticks = [b - a for a, b in zip(ticks0, cpu_ticks())]
        steal = ticks[7] / max(1, sum(ticks))
        peak_mb = sampler.stop()
        jvm_mb = sampler.peak_kb.get(sampler.root_pid, 0) / 1024.0
        n_workers = len(sampler.peak_kb) - 1
    finally:
        if spark is not None:
            spark.stop()
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)

    ok = [o is not None and not o.problems for _, _, _, o in runs]
    attempted, failed = len(runs), ok.count(False)
    print("# env " + json.dumps(env, sort_keys=True))
    print(f"# workload {args.workload} seed {args.seed}: {attempted} iterations "
          f"({'traced' if args.trace else 'untraced'}), failed_ops_ratio "
          f"{failed / attempted:.6g}; input generation {gen_s:.3f} s; set-up (JVM launch, "
          f"session, first query) wall {setup_wall:.3f} s, CPU {setup_cpu:.2f} s; "
          f"peak RSS JVM {jvm_mb:.0f} MB + "
          f"{n_workers} Python processes {peak_mb - jvm_mb:.0f} MB; iteration times "
          f"{', '.join(f'{r[2]:.3f}' for r in runs)} s, CPU "
          f"{', '.join(f'{x:.2f}' for x in cpu_s)} s; host CPU stolen {steal:.1%}")
    if args.trace:
        metrics = layer_metrics(tracer, [0])
        warm_traced = statistics.median(r[2] for r in runs[2::2])
        warm_untraced = statistics.median(r[2] for r in runs[1::2])
        metrics["trace.run_s"] = (runs[0][2], "s")
        metrics["trace.warm_run_s"] = (warm_traced, "s")
        metrics["trace.warm_untraced_run_s"] = (warm_untraced, "s")
        metrics["trace.overhead_ratio"] = (warm_traced / warm_untraced, "ratio")
    else:
        done = [r for r in runs if r[3] is not None]
        metrics = {
            "setup_s": (setup_cpu, "s"),
            "run_cpu_s": (statistics.median(cpu_s) if cpu_s else 0.0, "s"),
            "peak_rss_mb": (peak_mb, "MB"),
            "written_bytes_per_item": (statistics.median(
                r[3].written_bytes / r[3].items for r in done) if done else 0.0, "B"),
        }
    for name, (value, unit) in metrics.items():
        print(f"{name} {value:.6g} {unit}")
    if not args.trace:
        # Printed, not in the result: wall times follow the host's other
        # tenants (see the module docstring), and failures are carried by
        # `attempted` and `failed`.
        print(f"run_s {statistics.median(r[2] for r in runs):.6g} s")
        if done:
            print(f"items_per_s {sum(r[3].items for r in done) / sum(r[2] for r in done):.6g} 1/s")
        print(f"failed_ops_ratio {failed / attempted:.6g} ratio")
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


def run_all(args) -> int:
    """Each workload in its own process; the last line merges their
    results with metric names prefixed by the workload."""
    merged = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in WORKLOAD_NAMES:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"perfbench: workload {name} exited with {proc.returncode}", file=sys.stderr)
            return proc.returncode or 1
        print(f"## {name}")
        print("\n".join(lines[:-1]))
        res = json.loads(lines[-1])
        merged["correct"] &= res["correct"]
        merged["attempted"] += res["attempted"]
        merged["failed"] += res["failed"]
        for k, v in res["metrics"].items():
            merged["metrics"][f"{name}.{k}"] = v
    print(json.dumps(merged), flush=True)
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.workload == "all":
        return run_all(args)
    return run_workload(args)


if __name__ == "__main__":
    sys.exit(main())
