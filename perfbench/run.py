"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload ingest_sync --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. Inputs are generated from ``--seed``;
the timed loop runs for ``--seconds``; every output is checked against
the generator's truth or the catalog's DuckDB oracle. ``--trace 0``
reports the end-to-end metrics, ``--trace 1`` the per-layer metrics of
a separate traced run. The last line of standard output is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# The driver heap may grow to 2 GB (fits a 4-core, 16 GB host); it is
# not pre-sized, so peak RSS follows the heap the run really uses.
DRIVER_MEM = "2g"


def percentile(xs: list[float], q: float) -> float:
    """Linear-interpolated percentile (q in [0, 1])."""
    s = sorted(xs)
    if len(s) == 1:
        return s[0]
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


class RssSampler(threading.Thread):
    """Peak resident memory of this process and all its descendants
    (the JVM and its Python workers), sampled from /proc. Each process
    counts its proportional set size, so pages that forked workers share
    are counted once. Processes in ``exclude`` (the benchmark's own
    helpers) and their children are left out."""

    def __init__(self, period: float = 0.5):
        super().__init__(daemon=True)
        self.period = period
        self.peak = 0
        self.exclude: set[int] = set()
        self._jit: dict[tuple[str, str], int] = {}   # compiler thread -> last CPU ticks
        self._stop_evt = threading.Event()

    def tree(self) -> list[int]:
        parent: dict[int, int] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
        out, frontier = [os.getpid()], [os.getpid()]
        while frontier:
            p = frontier.pop()
            kids = [c for c, pp in parent.items() if pp == p and c not in self.exclude]
            out += kids
            frontier += kids
        return out

    def cpu_s(self) -> tuple[float, float]:
        """User + system CPU seconds of the process tree so far, and the
        part of them spent by JIT compiler threads. How much compiling a
        JVM does inside a given interval depends on timing, not on the
        work, so the gated CPU figures leave it out. The JVM ends idle
        compiler threads; a process's total keeps their time, so each
        one counts with the last value seen."""
        ticks = 0
        for pid in self.tree():
            try:
                with open(f"/proc/{pid}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
                ticks += int(fields[11]) + int(fields[12])
                tids = os.listdir(f"/proc/{pid}/task")
            except (OSError, IndexError, ValueError):
                continue
            for tid in tids:
                try:
                    with open(f"/proc/{pid}/task/{tid}/stat") as f:
                        head, rest = f.read().rsplit(")", 1)
                except OSError:
                    continue
                if "CompilerThre" in head:
                    fields = rest.split()
                    self._jit[pid, tid] = int(fields[11]) + int(fields[12])
        hz = os.sysconf("SC_CLK_TCK")
        return ticks / hz, sum(self._jit.values()) / hz

    def sample(self) -> int:
        total = 0
        for pid in self.tree():
            try:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    total += next(int(ln.split()[1]) for ln in f
                                  if ln.startswith("Pss:")) * 1024
            except (OSError, StopIteration, ValueError):
                continue
        self.peak = max(self.peak, total)
        return total

    def run(self) -> None:
        while not self._stop_evt.wait(self.period):
            self.sample()

    def stop(self) -> None:
        self._stop_evt.set()
        self.join(timeout=5)


def heap_peak_mb(spark) -> float:
    """The JVM's peak heap use: the sum of each heap pool's peak."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(p.getPeakUsage().getUsed() for p in mf.getMemoryPoolMXBeans()
               if p.getType().name() == "HEAP") / 2**20


def host_steal_s() -> float:
    """CPU time the hypervisor gave other guests while this host's vCPUs
    wanted to run, summed over vCPUs (the steal column of /proc/stat)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def configure_env(work: str) -> None:
    """Keep every file Spark, the JVM and tempfile write inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp}' "
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell")
    import tempfile

    tempfile.tempdir = tmp


def stop_spark(spark, sampler: RssSampler) -> None:
    """Stop the session and the JVM gateway, then wait until every
    process this run started has ended."""
    from pyspark import SparkContext

    kids = [p for p in sampler.tree() if p != os.getpid()]
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=10)
    deadline = time.time() + 30
    while time.time() < deadline:
        alive = [p for p in kids if os.path.exists(f"/proc/{p}")
                 and open(f"/proc/{p}/stat").read().rsplit(")", 1)[1].split()[0] != "Z"]
        if not alive:
            return
        time.sleep(0.1)
    for p in alive:
        try:
            os.kill(p, 9)
        except OSError:
            pass


def per_layer(ctx, tracer, startup_s: float) -> dict[str, float]:
    """The per-layer metrics of BENCHMARK.json. A layer the workload
    never enters reports 0."""
    import workloads as W

    # Set-up spans (op -1) are left out: they run cold.
    selft = tracer.self_times(lambda s: s.op is not None and s.op >= 0)

    def mean_self(name: str) -> float:
        total, n = selft.get(name, (0.0, 0))
        return total / n if n else 0.0

    out = {"session.startup_s": startup_s,
           "sources.fetch_calls": selft.get("sources.fetch", (0.0, 0))[1],
           "sources.fetch_s": mean_self("sources.fetch"),
           "commands.user_timeline_s": mean_self("commands.user_timeline"),
           "commands.tweets_dataframe_s": mean_self("commands.tweets_dataframe"),
           "commands.save_tweet_batch_s": mean_self("commands.save_tweet_batch"),
           "transforms.save_tweets_plan_s": mean_self("transforms.save_tweets_plan")}
    for t in W.TWEET_TABLES:
        out[f"database.upsert.{t}_s"] = mean_self(f"database.upsert.{t}")
    out["database.record_user_counts_s"] = mean_self("database.record_user_counts")
    out["checkpoint.watermark_get_s"] = mean_self("checkpoint.watermark_get")
    out["checkpoint.watermark_set_s"] = mean_self("checkpoint.watermark_set")
    inp = ctx.layer.get("input_bytes", 0)
    out["sinks.bytes_written_per_input_byte"] = (
        ctx.layer.get("bytes_written", 0) / inp if inp else 0.0)
    out["sinks.partitions_rewritten"] = ctx.layer.get("partitions_rewritten", 0)
    out["sinks.files_live"] = ctx.layer.get("sinks.files_live", 0)
    for k in ("batches", "rows_per_batch", "trigger_s", "add_batch_s",
              "wal_commit_s", "query_planning_s"):
        out[f"capture.{k}"] = ctx.layer.get(f"capture.{k}", 0)
    for q in W.RELATIONAL:
        out[f"relational.{q}_s"] = mean_self(f"relational.{q}")
    for kind in ("search_fts", "read.since_page", "read.facet_source",
                 "read.latest_per_user", "read.join_users_sources"):
        out[f"database.{kind}_s"] = mean_self(f"database.{kind}")
    # Family probes and index builds run once each, after the timed
    # loop (op -2).
    extra = tracer.self_times(lambda s: s.op == -2)
    for fam in W.FAMILY_PROBES.values():
        out[f"functions.{fam}_s"] = extra.get(f"functions.{fam}", (0.0, 0))[0]
    for name in W.BUILD_PROBES.values():
        out[f"plans.build.{name}_s"] = extra.get(f"plans.build.{name}", (0.0, 0))[0]
    out["jvm.heap_peak_mb"] = ctx.layer.get("jvm.heap_peak_mb", 0.0)
    n_ops = max(1, len(ctx.op_counts))
    for i, k in enumerate(("jobs", "stages", "tasks")):
        out[f"spark.{k}_per_op"] = sum(c[i] for c in ctx.op_counts) / n_ops
    out["trace.op_p50_s"] = statistics.median(ctx.latencies) if ctx.latencies else 0.0
    op_time = sum(ctx.latencies)
    out["trace.overhead_frac"] = tracer.overhead_s / op_time if op_time else 0.0
    return out


UNITS = {"_s": "s", "_calls": "count", "_frac": "ratio", "_byte": "ratio",
         "_mb": "MB"}


def unit_of(name: str) -> str:
    for suffix, unit in UNITS.items():
        if name.endswith(suffix):
            return unit
    return "count"


# Per workload: what one operation and one item are, and the name and
# unit of its wall-clock throughput on the "#" lines.
OP_NAMES = {"ingest_sync": ("sync", "tweets", "ingest_tweets_per_s", "tweets/s"),
            "lake_query": ("query", "queries", "queries_per_s", "queries/s")}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "twitter_to_sqlite_spark", "__init__.py")):
        print(f"no twitter_to_sqlite_spark package beside {HERE}; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    import workloads as W

    if args.workload not in W.WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(W.WORKLOADS)}",
              file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    configure_env(work)
    sampler = RssSampler()
    sampler.start()

    import twitter_to_sqlite_spark
    from twitter_to_sqlite_spark.session import get_spark

    if not os.path.abspath(twitter_to_sqlite_spark.__file__).startswith(ROOT + os.sep):
        print("imported twitter_to_sqlite_spark from outside the checkout",
              file=sys.stderr)
        return 2

    ctx = W.Ctx(spark=None, work=work, seed=args.seed, seconds=args.seconds,
                cpu_clock=sampler.cpu_s)
    wl = W.WORKLOADS[args.workload](ctx)
    cpus = min(4, len(os.sched_getaffinity(0)))
    try:
        wl.prepare()
        if ctx.helper is not None:
            sampler.exclude.add(ctx.helper.pid)
        t0 = time.perf_counter()
        ctx.spark = get_spark("perfbench", cpus=str(cpus))
        startup_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        inputs = wl.make_inputs()
        gen_s = time.perf_counter() - t0
        if args.trace:
            from spans import SparkCounters, Tracer

            ctx.tracer = Tracer()
            ctx.counters = SparkCounters(ctx.spark)
            ctx.tracer.op = -1
            W.install_trace(ctx, inputs[0])
        t0 = time.perf_counter()
        wl.setup(*inputs)
        build_s = time.perf_counter() - t0
        # Process start to measurement start, less the benchmark's own
        # input generation and any once-per-checkout fixture build.
        setup_s = time.perf_counter() - T_START - gen_s - ctx.fixture_build_s
        ctx.layer.update(input_bytes=0, bytes_written=0, partitions_rewritten=0)
        (cpu0, jit0), steal0 = sampler.cpu_s(), host_steal_s()
        t_measure = time.perf_counter()
        wl.measure()
        measure_s = time.perf_counter() - t_measure
        (cpu1, jit1), steal_s = sampler.cpu_s(), host_steal_s() - steal0
        measure_cpu_s, jit_s = (cpu1 - jit1) - (cpu0 - jit0), jit1 - jit0
        if ctx.tracer:
            wl.trace_extra()
            ctx.tracer.unpatch()
            ctx.layer["jvm.heap_peak_mb"] = heap_peak_mb(ctx.spark)
        t0 = time.perf_counter()
        wl.verify()
        verify_s = time.perf_counter() - t0
    finally:
        sampler.sample()
        if ctx.helper is not None and ctx.helper.poll() is None:
            ctx.helper.kill()
            ctx.helper.wait()
        if ctx.spark is not None:
            stop_spark(ctx.spark, sampler)
        sampler.stop()
        shutil.rmtree(work, ignore_errors=True)

    op_checks = [c for c in ctx.checks if c[0].startswith("op ")]
    state_checks = [c for c in ctx.checks if not c[0].startswith("op ")]
    failed = ctx.failed + sum(1 for c in state_checks if not c[1])
    attempted = len(ctx.latencies) + len(op_checks) + len(state_checks)
    correct = failed == 0 and bool(ctx.latencies)

    op, item, thr_name, thr_unit = OP_NAMES[args.workload]
    nan = float("nan")
    lat = ctx.latencies or [nan]
    # The gated figures are CPU seconds of the process tree: on a shared
    # virtual machine the wall-clock figures printed below move with the
    # CPU time other tenants take (steal), CPU seconds do not.
    e2e = {"setup_s": (setup_s, "s"),
           "peak_rss_mb": (sampler.peak / 2**20, "MB"),
           "op_cpu_p50_s": (statistics.median(ctx.cpu) if ctx.cpu else nan, "s"),
           "cpu_s_per_item": (measure_cpu_s / ctx.items if ctx.items else nan, "s")}
    print(f"# {args.workload} seed={args.seed} trace={args.trace} cpus={cpus} "
          f"startup={startup_s:.3f}s inputs={gen_s:.3f}s build={build_s:.3f}s "
          f"(fixture {ctx.fixture_build_s:.3f}s) measure={measure_s:.3f}s "
          f"verify={verify_s:.3f}s host_steal={steal_s:.2f}s")
    print(f"#   {op}_p50_s = {statistics.median(lat):.4f} s   (n={len(ctx.latencies)})")
    print(f"#   {op}_p90_s = {percentile(lat, 0.9):.4f} s   (n={len(ctx.latencies)})")
    print(f"#   {thr_name} = {ctx.items / measure_s:.4f} {thr_unit}   "
          f"({ctx.items} in {measure_s:.2f} s)")
    print(f"#   op_cpu_p50_s = {e2e['op_cpu_p50_s'][0]:.4f} s   (n={len(ctx.cpu)}, "
          f"all=[{' '.join(f'{x:.2f}' for x in ctx.cpu)}])")
    print(f"#   cpu_s_per_item = {e2e['cpu_s_per_item'][0]:.4f} s   "
          f"({measure_cpu_s:.2f} CPU s over {ctx.items} {item}; "
          f"JIT compiler threads another {jit_s:.2f} s)")
    print(f"#   failed_frac = {failed / max(1, attempted):.4f} ratio   "
          f"({failed} of {attempted})")
    for kind, xs in sorted(ctx.samples.items()):
        print(f"#   op {kind}: n={len(xs)} median={statistics.median(xs):.4f}s "
              f"all=[{' '.join(f'{x:.3f}' for x in xs)}]")
    for name, ok, detail in ctx.checks:
        print(f"#   check {'ok  ' if ok else 'FAIL'} {name} {detail if not ok else ''}")

    if args.trace:
        bad = ctx.tracer.check()
        if bad:
            print("# span tree problems: " + "; ".join(bad[:5]))
            correct = False
        trace_dir = os.path.join(ROOT, ".perfbench_work", "traces")
        os.makedirs(trace_dir, exist_ok=True)
        ctx.tracer.dump(os.path.join(trace_dir, f"{args.workload}-{args.seed}.json"))
        metrics = {k: {"value": v, "unit": unit_of(k)}
                   for k, v in per_layer(ctx, ctx.tracer, startup_s).items()}
        for k, m in metrics.items():
            print(f"#   {k} = {m['value']:.6g} {m['unit']}")
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
