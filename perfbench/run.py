"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout of the repo. One invocation runs one
workload in this process with one fresh JVM. It generates (or reuses) the
seed's inputs, starts the session, sets up and warms up, then runs
closed-loop cycles for ``--seconds`` and checks every output. The last
line of standard output is one JSON object: with ``--trace 0`` it holds
the end-to-end metrics, with ``--trace 1`` the per-layer metrics of a run
that alternates traced and untraced cycles.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN_DIR = os.path.join(HERE, ".run")

# Per-layer metrics, as listed in BENCHMARK.json. A layer that does no
# work on a workload reports 0 there.
QUERY_IDS = ("q01", "q03", "q04", "q31", "q36", "q52", "q54")
CHAIN_STEPS = (
    "dedup_exact", "dedup_paragraphs", "dedup_near", "quality_filter",
    "repetition_filter", "decontaminate", "redact_pii", "count",
)
PER_LAYER = {
    "session.start_s": "s",
    "session.first_worker_s": "s",
    "sources.binary.list_s": "s",
    "sources.binary.objects": "count",
    "sources.binary.bytes": "bytes",
    "ingest.archives.explode_us": "us",
    "ingest.archives.members": "count",
    "dicom.codec.parse_us": "us",
    "dicom.codec.parse_ok_ratio": "ratio",
    "ingest.extract.flatten_us": "us",
    "ingest.pipeline.ingest_batch_s": "s",
    "ingest.pipeline.jobs": "count",
    "ingest.pipeline.tasks": "count",
    "ingest.pipeline.failed_tasks": "count",
    "sources.catalog.refresh_s": "s",
    "api.sql_s": "s",
    "api.collect_s": "s",
    "sources.tables.register_s": "s",
    **{f"queries.{q}.{m}": u for q in QUERY_IDS
       for m, u in (("build_s", "s"), ("exec_s", "s"), ("jobs", "count"), ("tasks", "count"))},
    **{f"pipeline.TextCorpus.{s}.{m}": u for s in CHAIN_STEPS
       for m, u in (("s", "s"), ("jobs", "count"), ("rows_out", "count"))},
    "trace.overhead_s": "s",
}
END_TO_END = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "throughput_per_s": "1/s",
    "cycle_s": "s",
    "op_p50_s": "s",
    "op_tail_s": "s",
}


class RssSampler:
    """Peak memory of this process and all its descendants (the JVM and
    the Python workers), sampled from /proc and from the JVM.

    The driver heap is committed and touched when the JVM starts, so the
    RSS always holds all of it, however little the program uses. Each
    sample therefore replaces the committed heap with the heap the program
    still held after the JVM's latest garbage collection, read from the
    collectors' ``GcInfo``: the figure is the resident memory outside the
    heap plus the heap's live data. Descendants younger than a second are
    skipped: a child the JVM spawns shares the JVM's memory until it
    execs, and would count the JVM twice."""

    def __init__(self, spark, interval: float = 0.1):
        self.interval = interval
        self.peak_kb = 0
        mf = spark._jvm.java.lang.management.ManagementFactory
        self._committed_kb = mf.getMemoryMXBean().getHeapMemoryUsage().getCommitted() // 1024
        self._pools = [p.getName() for p in mf.getMemoryPoolMXBeans()
                       if str(p.getType()) == "Heap memory"]
        self._gcs = list(mf.getGarbageCollectorMXBeans())
        self._gc_counts = [0] * len(self._gcs)
        self._live_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    @staticmethod
    def _tree_rss_kb(root: int) -> int:
        children: dict[int, list[int]] = {}
        rss: dict[int, int] = {}
        ticks = os.sysconf("SC_CLK_TCK")
        with open("/proc/uptime") as fh:
            uptime = float(fh.read().split()[0])
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    stat = fh.read()
                with open(f"/proc/{entry}/statm") as fh:
                    pages = int(fh.read().split()[1])
            except OSError:  # the process exited while we looked
                continue
            fields = stat[stat.rindex(")") + 2:].split()
            children.setdefault(int(fields[1]), []).append(int(entry))
            if int(entry) == root or uptime - int(fields[19]) / ticks >= 1.0:
                rss[int(entry)] = pages * (os.sysconf("SC_PAGE_SIZE") // 1024)
        total, todo = 0, [root]
        while todo:
            pid = todo.pop()
            total += rss.get(pid, 0)
            todo.extend(children.get(pid, ()))
        return total

    def _sample(self) -> None:
        for i, gc in enumerate(self._gcs):
            count = gc.getCollectionCount()
            if count != self._gc_counts[i]:
                self._gc_counts[i] = count
                after = gc.getLastGcInfo().getMemoryUsageAfterGc()
                self._live_kb = sum(after[name].getUsed() for name in self._pools) // 1024
        off_heap_kb = self._tree_rss_kb(os.getpid()) - self._committed_kb
        self.peak_kb = max(self.peak_kb, off_heap_kb + self._live_kb)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join()
        self._sample()
        return self.peak_kb / 1024


def host_conf() -> tuple[int, dict[str, str]]:
    """local[nproc] with nproc shuffle partitions, a driver heap of a fifth
    of MemTotal (1 to 3 GiB), and every scratch path inside the checkout.
    The heap is committed and touched at JVM start, so the resident memory
    outside it does not depend on when GC grew the heap (``RssSampler``
    counts the heap's live data instead)."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        mem_kb = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    heap_mb = max(1024, min(3072, mem_kb // 5 // 1024))
    tmp = os.path.join(RUN_DIR, "tmp")
    return cpus, {
        "spark.driver.memory": f"{heap_mb}m",
        "spark.driver.extraJavaOptions": (
            f"-Xms{heap_mb}m -XX:+AlwaysPreTouch -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        ),
        "spark.local.dir": os.path.join(RUN_DIR, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(RUN_DIR, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }


def _identity(batches):
    yield from batches


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait until it has exited (its
    Python workers exit with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway server exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)

    os.makedirs(os.path.join(RUN_DIR, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(RUN_DIR, "tmp")
    os.environ["TZ"] = "UTC"
    time.tzset()
    sys.path.insert(0, ROOT)
    try:
        import dicom_metadata_extractor_serverless_datalake_spark  # noqa: F401
    except ImportError as err:
        print(f"[perfbench] the package is not importable from {ROOT}: {err}", file=sys.stderr)
        return 2

    from spans import Tracer
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"[perfbench] unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    tracer = Tracer(run_id, enabled=False)
    wl = WORKLOADS[args.workload](args.seed, tracer, os.path.join(RUN_DIR, run_id))

    t0 = time.perf_counter()
    wl.generate()
    gen_s = time.perf_counter() - t0

    from dicom_metadata_extractor_serverless_datalake_spark.session import get_spark
    from pyspark.sql import types as T

    cpus, conf = host_conf()
    t0 = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{args.workload}", master=f"local[{cpus}]",
                      shuffle_partitions=cpus, extra_conf=conf)
    session_start_s = time.perf_counter() - t0
    tracer.spark = spark
    rss = RssSampler(spark).start()
    try:
        first_worker_s = 0.0
        if wl.python_workers:
            t0 = time.perf_counter()
            schema = T.StructType([T.StructField("id", T.LongType())])
            spark.range(cpus).mapInPandas(_identity, schema).count()
            first_worker_s = time.perf_counter() - t0
        wl.setup(spark)
        setup_s = time.perf_counter() - PROCESS_START - gen_s

        deadline = time.perf_counter() + args.seconds
        n = 0
        # An untraced run makes at least the workload's min_cycles, so its
        # tail is always the same percentile. With tracing, cycles alternate
        # untraced / traced, and the run makes at least three: the first
        # (coldest) one, then one of each for the tracing overhead.
        min_cycles = 3 if args.trace else wl.min_cycles
        while n < min_cycles or time.perf_counter() < deadline:
            tracer.enabled = bool(args.trace and n % 2)
            wl.cycle()
            n += 1
        tracer.enabled = bool(args.trace)
        wl.finish()
        if args.trace:
            layers = {name: (0, unit) for name, unit in PER_LAYER.items()}
            layers.update(wl.per_layer())
            layers["session.start_s"] = (session_start_s, "s")
            layers["session.first_worker_s"] = (first_worker_s, "s")
            layers["trace.overhead_s"] = (wl.overhead(), "s")
            metrics = layers
            tracer.dump(os.path.join(RUN_DIR, f"trace-{run_id}.json"))
        else:
            metrics = dict(wl.e2e())
            metrics["setup_s"] = (setup_s, "s")
    finally:
        peak_mb = rss.stop()
        stop_spark(spark)
    if not args.trace:
        metrics["peak_rss_mb"] = (peak_mb, "MB")
    expected = PER_LAYER if args.trace else END_TO_END
    if set(metrics) != set(expected):
        raise RuntimeError(f"metric set mismatch: {sorted(set(metrics) ^ set(expected))}")

    for note in wl.notes:
        print(f"[perfbench] {note}")
    print(f"[perfbench] {args.workload} seed={args.seed} cycles={n} input_gen_s={gen_s:.3f} "
          f"session_start_s={session_start_s:.2f} first_worker_s={first_worker_s:.2f} "
          f"run_s={time.perf_counter() - PROCESS_START:.1f}")
    print(json.dumps({
        "correct": wl.failed == 0,
        "attempted": wl.attempted,
        "failed": wl.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in sorted(metrics.items())},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
