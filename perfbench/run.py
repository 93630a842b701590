"""Run one benchmark workload at one seed and print one JSON result line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout of the repository. The run

1. makes (or reuses) the seed's inputs and expected outputs with
   ``perfbench/gen.py`` in a child process;
2. sets up: imports the program, starts ``session.get_spark`` in local mode
   with as many task slots as the process may use, runs a first
   Python-runner job and the first repetition of the workload;
3. runs a second untimed repetition, then timed repetitions until
   ``--seconds`` of timed work are done, checking every output;
4. prints ``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
   metrics with ``--trace 0``, the per-layer metrics named in
   ``BENCHMARK.json`` with ``--trace 1``.

Everything the run writes stays under ``.perfbench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
WORK = ".perfbench_work"

# untimed repetitions before timing: the first carries one-off set-up costs,
# the second lets the JIT settle
WARMUP_REPS = 2
JVM_HEAP = "2g"


def process_age() -> float:
    """Seconds since this process started (10 ms resolution)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def process_tree() -> list[int]:
    """This process and all its descendants (JVM, Python daemon, workers)."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    tree, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo.extend(children.get(pid, []))
    return tree


def tree_cpu_s() -> float:
    """User plus system CPU of the process tree, reaped children included."""
    total = 0
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])
    return total / os.sysconf("SC_CLK_TCK")


def tree_peak_rss_mb() -> dict[str, float]:
    """VmHWM summed over the process tree, by command name."""
    by_name: dict[str, float] = {}
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/status") as f:
                fields = dict(line.split(":", 1) for line in f)
        except OSError:
            continue
        if "VmHWM" in fields:
            name = fields["Name"].strip()
            by_name[name] = by_name.get(name, 0.0) + int(fields["VmHWM"].split()[0]) / 1024
    return by_name


def configure_env(root: str) -> None:
    """Keep every file Spark, the JVM and the C build write inside the
    checkout."""
    tmp = os.path.join(root, WORK, "tmp")
    local = os.path.join(root, WORK, "spark-local")
    cc = os.path.join(root, WORK, "cc")
    for d in (tmp, local, cc):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # Python workers import the program from the checkout too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    os.environ["PDF_PARSE_CTEXT_CACHE"] = cc
    os.environ["SPARK_LOCAL_DIRS"] = local
    # The JVM's heap is sized and touched up front: a heap that grows on
    # demand makes the peak resident size follow garbage-collector timing,
    # which moved peak_rss_mb by up to a third between runs of one commit.
    os.environ["SPARK_DRIVER_MEM"] = JVM_HEAP
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", shlex.quote(f"spark.local.dir={local}"),
        "--driver-java-options",
        shlex.quote(f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                    f"-Xms{JVM_HEAP} -XX:+AlwaysPreTouch"),
        "pyspark-shell",
    ])


def first_python_job(spark) -> None:
    def ident(it):
        yield from it

    n = spark.sparkContext.defaultParallelism
    spark.range(0, 4 * n, numPartitions=n).mapInPandas(ident, "id long").count()


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait until every
    descendant process has ended."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + 30
    while (rest := process_tree()[1:]) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in rest:
        try:
            os.kill(pid, 9)
        except OSError:
            pass


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "pdf_parse_new_spark")):
        print("perfbench: run from the repository root (no pdf_parse_new_spark/ "
              "here)", file=sys.stderr)
        return 2
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    if args.workload not in {w["name"] for w in bench["workloads"]}:
        ap.error(f"unknown workload {args.workload!r}")
    units = {m["name"]: m["unit"]
             for m in bench["per_layer" if args.trace else "end_to_end"]}
    configure_env(root)

    t_gen = time.perf_counter()
    inputs = subprocess.run(
        [sys.executable, os.path.join(HERE, "gen.py"),
         "--workload", args.workload, "--seed", str(args.seed)],
        check=True, stdout=subprocess.PIPE, text=True,
    ).stdout.strip().splitlines()[-1]
    gen_s = time.perf_counter() - t_gen

    # set-up: everything from here to the end of the first repetition
    sys.path.insert(0, root)
    sys.path.insert(0, HERE)
    from pdf_parse_new_spark.session import get_spark

    import workloads

    t_spark = time.perf_counter()
    spark = get_spark(f"perfbench-{args.workload}",
                      cores=len(os.sched_getaffinity(0)))
    get_spark_s = time.perf_counter() - t_spark
    scratch = os.path.join(root, WORK, "runs", str(os.getpid()))
    tracer = workloads.Tracer(bool(args.trace))
    try:
        spark.sparkContext.setLogLevel("ERROR")
        first_python_job(spark)
        shutil.rmtree(scratch, ignore_errors=True)
        os.makedirs(scratch)
        t_load = time.perf_counter()
        wl = workloads.WORKLOADS[args.workload](spark, inputs, scratch, tracer)
        own_s = gen_s + time.perf_counter() - t_load  # the benchmark's own work
        attempted = failed = 0
        broken: list[str] = []
        rates, cpus = [], []
        timed = 0.0
        rep = 0
        while rep < WARMUP_REPS or timed < args.seconds:
            state = wl.prepare(rep)
            cpu0 = tree_cpu_s()
            t0 = time.perf_counter()
            out = wl.run(state)
            dt = time.perf_counter() - t0
            cpu = tree_cpu_s() - cpu0
            if rep == 0:
                # the first repetition pays the session's one-off costs
                # (JIT, code generation, imports in the Python workers), so
                # set-up ends with it
                setup_s = process_age() - own_s
            a, f, b = wl.check(state, out)
            wl.cleanup(state)
            attempted, failed = attempted + a, failed + f
            broken += b
            if rep == WARMUP_REPS - 1:
                tracer.spans.clear()  # layer figures come from timed repetitions
            if rep >= WARMUP_REPS:
                timed += dt
                rates.append(wl.items / dt)
                cpus.append(cpu)
            print(f"perfbench: rep {rep} {dt:.3f} s cpu {cpu:.2f} s "
                  f"failed {f}/{a}", file=sys.stderr)
            rep += 1
        if args.trace:
            measured = wl.layers()
            measured["session.get_spark_s"] = get_spark_s
            measured["tree.cpu_s"] = statistics.median(cpus)
            if set(measured) - set(units):
                raise RuntimeError(f"undeclared metrics {set(measured) - set(units)}")
            # a layer this workload does not exercise reads 0
            metrics = dict.fromkeys(units, 0.0) | measured
            tracer.write(os.path.join(
                root, WORK, "trace", f"{args.workload}-s{args.seed}.json"))
            print("perfbench: traced items_per_s "
                  f"{statistics.median(rates):.2f}", file=sys.stderr)
        else:
            rss = tree_peak_rss_mb()
            print("perfbench: peak RSS MB by process "
                  + json.dumps({k: round(v) for k, v in rss.items()}), file=sys.stderr)
            metrics = {"setup_s": setup_s,
                       "items_per_s": statistics.median(rates),
                       "peak_rss_mb": sum(rss.values())}
    finally:
        stop_spark(spark)
        shutil.rmtree(scratch, ignore_errors=True)
    for msg in broken:
        print(f"perfbench: check failed: {msg}", file=sys.stderr)
    print(json.dumps({
        "correct": not broken,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
