"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload dag_fleet --seed 1 --seconds 15 --trace 0

Run from the root of a source checkout. One process, one closed-loop
client, ``local[<cores>]``. With ``--trace 0`` the last stdout line is
the JSON result with every end-to-end metric of BENCHMARK.json; with
``--trace 1`` it carries the per-layer metrics instead, and the spans
are written to ``.perfbench/trace-<workload>-<seed>.json``. The exit
code is non-zero when any op's output was wrong.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import threading  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("dag_fleet", "corpus_prep", "adhoc_query")
#: a process that overruns this is killed before the 180 s limit
HARD_LIMIT_S = 170.0


def _pin_environment(workdir: str) -> int:
    """Environment the engine reads, fixed from outside it: every core,
    a heap well under the machine's memory, and every scratch path
    inside the per-run directory. The heap is committed and touched at
    JVM start (-Xms = -Xmx, AlwaysPreTouch): left to grow, the JVM's
    resident size varied by 25% between identical runs with G1's heap
    sizing, which would hide any real change in peak memory."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        total_kb = int(next(ln for ln in f if ln.startswith("MemTotal")).split()[1])
    mem_mb = min(2048, total_kb // 1024 // 4)
    local = os.path.join(workdir, "spark-local")
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(local)
    os.makedirs(tmp)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_DRIVER_MEM=f"{mem_mb}m",
        SPARK_LOCAL_DIRS=local,
        TMPDIR=tmp,
        PYSPARK_SUBMIT_ARGS=(
            f"--driver-java-options '-Xms{mem_mb}m -XX:+AlwaysPreTouch "
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData' "
            "pyspark-shell"
        ),
    )
    os.environ.pop("SPARK_GRAFT_RUNTIME_FILTERS", None)
    return cpus


def _descendants(pid: int) -> list[int]:
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
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for ln in f:
                if ln.startswith("VmHWM:"):
                    return int(ln.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb() -> tuple[float, float]:
    """(driver, JVM) peak resident memory in MB: each process's
    high-water mark."""
    from pyspark import SparkContext

    own = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return own / 1024.0, _hwm_kb(SparkContext._gateway.proc.pid) / 1024.0


def _stop_spark(spark) -> None:
    """Stop the session and the gateway JVM, and wait for every process
    this run started to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    procs = _descendants(os.getpid())
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 — fall through to kill
                proc.kill()
                proc.wait(timeout=10)
    deadline = time.monotonic() + 20
    for pid in procs:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            try:
                os.kill(pid, 0)
            except ProcessLookupError:
                break
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, 9)
            except ProcessLookupError:
                pass
    for pid in procs:
        try:
            os.waitpid(pid, 0)
        except ChildProcessError:
            pass


def _workload(name: str, seed: int, workdir: str, tracer):
    if name == "dag_fleet":
        from perfbench.fleet import Fleet

        return Fleet(seed, workdir, tracer)
    if name == "corpus_prep":
        from perfbench.corpus import Corpus

        return Corpus(seed, workdir, tracer)
    from perfbench.adhoc import Adhoc

    return Adhoc(seed, workdir, tracer)


def _watchdog(workdir: str) -> threading.Timer:
    """Exit without a result rather than overrun the time limit."""
    def fire():
        print(f"perfbench: no result within {HARD_LIMIT_S:.0f}s", file=sys.stderr)
        for pid in _descendants(os.getpid()):
            try:
                os.kill(pid, 9)
            except ProcessLookupError:
                pass
        shutil.rmtree(workdir, ignore_errors=True)
        os._exit(3)

    t = threading.Timer(HARD_LIMIT_S - (time.perf_counter() - T_PROCESS), fire)
    t.daemon = True
    t.start()
    return t


def result_metrics(spec: dict, measured: dict[str, float], trace: bool) -> dict:
    """Every metric BENCHMARK.json declares for this mode, in its order,
    with its unit. A layer the workload never calls reports 0: it spent
    no time and did no work. A measured name that BENCHMARK.json does not
    declare is an error, so nothing measured is silently dropped."""
    declared = spec["per_layer" if trace else "end_to_end"]
    undeclared = set(measured) - {m["name"] for m in declared}
    if undeclared:
        raise KeyError(f"metrics not declared in BENCHMARK.json: {sorted(undeclared)}")
    return {
        m["name"]: {"value": float(measured.get(m["name"], 0.0)), "unit": m["unit"]}
        for m in declared
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "airflow_spark")):
        print(f"perfbench: no airflow_spark package under {ROOT}; run from a source checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.trace import Tracer, median, tail

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    base = os.path.join(ROOT, ".perfbench")
    os.makedirs(base, exist_ok=True)
    workdir = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-", dir=base)
    watchdog = _watchdog(workdir)
    spark = None
    try:
        cpus = _pin_environment(workdir)
        tracer = Tracer(bool(args.trace))
        wl = _workload(args.workload, args.seed, workdir, tracer)

        # input generation is the benchmark's work, not the engine's set-up
        g0 = time.perf_counter()
        wl.generate()
        gen_s = time.perf_counter() - g0

        with tracer.span("session.start"):
            from airflow_spark.session import get_session

            spark = get_session(app_name=f"perfbench-{args.workload}")
        wl.setup(spark)
        tracer.active = False
        wl.warm_up()
        setup_s = time.perf_counter() - T_PROCESS - gen_s

        tracer.active = True
        tracer.cost_s = 0.0
        lat: list[float] = []
        failures: list[str] = []
        failed_ops = 0
        busy = 0.0
        # timed in whole rounds (an adhoc deck, a scheduler poll), so
        # every run of a workload measures the same mix
        while busy < args.seconds or not wl.boundary():
            t0 = time.perf_counter()
            ops = wl.step()
            busy += time.perf_counter() - t0 - wl.take_check_s()
            for latency, ok, detail in ops:
                lat.append(latency)
                if not ok:
                    failed_ops += 1
                    failures.append(detail)
        final_errors = wl.finish()
        failures += final_errors
        rss_driver, rss_jvm = peak_rss_mb()

        n = len(lat)
        info = {
            "workload": args.workload,
            "seed": args.seed,
            "master": spark.sparkContext.master,
            "parallelism": spark.sparkContext.defaultParallelism,
            "driver_memory": spark.sparkContext.getConf().get("spark.driver.memory"),
            "cpus": cpus,
            "seconds": args.seconds,
            "gen_s": round(gen_s, 4),
            "peak_rss_driver_mb": round(rss_driver, 1),
            "peak_rss_jvm_mb": round(rss_jvm, 1),
        }
        print("# " + json.dumps(info))
        tl = tail(lat)
        print(f"# latency_p50_s {median(lat):.6f} s (n={n})")
        if tl is None:
            print(f"# latency_tail_s unsupported (n={n}: under 10 samples beyond the median)")
        else:
            print(f"# latency_tail_s {tl[1]:.6f} s (p{tl[0]:g}, n={n})")
        print(f"# failed_frac {failed_ops / max(n, 1):.6f} ({failed_ops}/{n})")
        for f in failures[:10]:
            print(f"# FAILED {f}")

        if args.trace:
            measured = {
                "session.start_s": median(tracer.durations("session.start")),
                "catalog.load_s": sum(tracer.durations("catalog.load")),
                **wl.per_layer(),
            }
            # the traced median, set against an untraced run's
            # latency_p50_s, is the overhead seen end to end; the
            # tracer's own timed cost is its direct share of the run
            measured["trace.latency_p50_s"] = median(lat)
            measured["trace.overhead_frac"] = tracer.cost_s / busy
            print(f"# tracing overhead {tracer.cost_s:.6f} s of {busy:.3f} s timed "
                  f"({tracer.cost_s / busy:.4%})")
            for name, secs in sorted(tracer.self_times().items()):
                print(f"# self_time {name} {secs:.6f} s")
            tracer.write(os.path.join(base, f"trace-{args.workload}-{args.seed}.json"))
        else:
            measured = {
                "latency_p50_s": median(lat),
                "ops_per_min": 60.0 * n / busy,
                "peak_rss_mb": rss_driver + rss_jvm,
                "setup_s": setup_s,
            }
        metrics = result_metrics(spec, measured, bool(args.trace))
        for name, m in metrics.items():
            print(f"# {name} {m['value']:.6f} {m['unit']}")
        correct = not failed_ops and not final_errors
        result = {
            "correct": correct,
            "attempted": n,
            "failed": failed_ops,
            "metrics": metrics,
        }
        _stop_spark(spark)
        spark = None
        watchdog.cancel()
        print(json.dumps(result), flush=True)
        return 0 if correct else 1
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(workdir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
