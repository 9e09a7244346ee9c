"""Closed-loop benchmark of the engine: one client, one request at a time.

    python3 perfbench/run.py --workload tile_shave --seed 1 --seconds 5 --trace 0

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` alternates
traced and untraced requests and reports the per-layer metrics, the
tracing overhead among them. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {value, unit}}}``.
The exit code is non-zero when any request raised or failed its check.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / "perfbench" / "out"

MIN_REQUESTS = 3

END_TO_END = {
    "items_per_s": "1/s",
    "request_ms_p50": "ms",
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "out_bytes_per_in_byte": "ratio",
}

# (span, plan node) -> layer whose Python-boundary numbers it carries
PYTHON_NODES = {
    ("sources.mvt.encode.action", "MapInArrow"): "sources.mvt.decode",
    ("sources.mvt.encode.action", "ArrowEvalPython"): "functions.pandas_kernels.encode",
    ("operators.knn.action", "MapInArrow"): "operators.knn",
}
# span -> metric that carries its Exchange bytes
SHUFFLE_SPANS = {
    "sources.mvt.encode.action": "sources.mvt.encode.shuffle_bytes",
    "operators.dedup.exact.action": "operators.dedup.exact.shuffle_bytes",
    "operators.dedup.minhash.action": "operators.dedup.minhash.shuffle_bytes",
}
LAYERS_WITH_ACTION = (
    "sources.mvt.encode", "functions.s2", "operators.pip", "operators.knn",
    "operators.dedup.exact", "operators.dedup.minhash", "operators.bloom",
)


def per_layer_units() -> dict:
    units = {
        "trace.items_per_s": "1/s",
        "trace.untraced_items_per_s": "1/s",
        "trace.overhead_pct": "%",
        "trace.span_share": "ratio",
        "spark.driver_gap_ms": "ms",
        "spark.job_ms": "ms",
        "spark.jobs": "count",
        "spark.tasks": "count",
        "spark.failed_tasks": "count",
        "catalyst.analysis_ms": "ms",
        "session.jvm_gc_ms": "ms",
        "style.call_ms": "ms",
        "sources.mvt.decode.call_ms": "ms",
        "operators.shave.call_ms": "ms",
    }
    for layer in LAYERS_WITH_ACTION:
        units.update({f"{layer}.call_ms": "ms", f"{layer}.action_ms": "ms",
                      f"{layer}.jobs": "count"})
    for layer in sorted(set(PYTHON_NODES.values())):
        units.update({f"{layer}.python_ms": "ms", f"{layer}.bytes_to_python": "B",
                      f"{layer}.bytes_from_python": "B"})
    units.update({m: "B" for m in SHUFFLE_SPANS.values()})
    units.update({
        "operators.shave.rows_in": "count",
        "operators.shave.rows_out": "count",
        "operators.shave.keep_ratio": "ratio",
        "sources.mvt.decode_ms": "ms",
        "operators.shave.exec_ms": "ms",
        "sources.mvt.encode_ms": "ms",
        "operators.pip.match_rows": "count",
        "operators.dedup.minhash_candidates": "count",
    })
    return units


# -- process facts ------------------------------------------------------------


def _proc_status(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except FileNotFoundError:  # the process ended meanwhile
        pass
    return 0


def _descendants(root: int) -> set:
    children: dict = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (FileNotFoundError, ProcessLookupError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    found, todo = set(), [root]
    while todo:
        for child in children.get(todo.pop(), []):
            found.add(child)
            todo.append(child)
    return found


def peak_rss_mb(spark) -> float:
    """Summed VmHWM of this driver and the JVM's live Python workers, plus
    the JVM's own: its VmHWM outside the pre-touched heap, plus the peak
    use of each heap pool. The heap is touched whole at start, so its
    VmHWM alone would not move when the engine's heap use grows."""
    jvm = int(spark._jvm.java.lang.ProcessHandle.current().pid())
    workers = _descendants(jvm)
    mf = spark._jvm.java.lang.management.ManagementFactory
    heap_kb = mf.getMemoryMXBean().getHeapMemoryUsage().getCommitted() >> 10
    heap_peak_kb = sum(p.getPeakUsage().getUsed() for p in mf.getMemoryPoolMXBeans()
                       if p.getType().name() == "HEAP") >> 10
    driver, jvm_kb = _proc_status(os.getpid(), "VmHWM"), _proc_status(jvm, "VmHWM")
    workers_kb = sum(_proc_status(p, "VmHWM") for p in workers)
    log(f"VmHWM: driver {driver >> 10} MB, JVM {jvm_kb >> 10} MB of which heap "
        f"{heap_kb >> 10} MB (peak use {heap_peak_kb >> 10} MB), "
        f"{len(workers)} Python processes {workers_kb >> 10} MB")
    return (driver + jvm_kb - heap_kb + heap_peak_kb + workers_kb) / 1024.0


# -- session ------------------------------------------------------------------


def start_session(workload: str):
    from vtshaver_spark.session import build_session

    # half the cores: each Arrow slot runs a JVM task thread plus a
    # Python worker, so two slots keep four cores busy without queueing
    slots = max(1, len(os.sched_getaffinity(0)) // 2)
    spark = build_session(
        app_name=f"perfbench-{workload}",
        master=f"local[{slots}]",
        shuffle_partitions=2 * slots,
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.local.dir": str(WORK / "spark-local"),
            # a fixed, pre-touched heap and young generation: otherwise
            # G1 grows them as GC timing dictates, and the JVM's resident
            # high-water mark follows host speed by hundreds of MB;
            # peak_rss_mb counts the heap by its peak use instead. No
            # hsperfdata file in /tmp.
            "spark.driver.extraJavaOptions":
                "-Xms2g -Xmn256m -XX:+AlwaysPreTouch -XX:-UsePerfData "
                f"-Djava.io.tmpdir={WORK / 'tmp'}",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None and getattr(gateway, "proc", None) is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits on EOF from its driver
        gateway.proc.wait(timeout=60)


# -- the loop -----------------------------------------------------------------


class Runner:
    def __init__(self, workload, null_tracer):
        self.wl = workload
        self.null_tracer = null_tracer
        self.rid = 0
        self.attempted = 0
        self.failed = 0

    def one(self, batch: int, tracer=None):
        """Run and check one request; returns (wall s, Result) or None."""
        rid = self.rid
        self.rid += 1
        self.attempted += 1
        tracer = tracer or self.null_tracer
        try:
            gc0 = tracer.gc_ms() if tracer.enabled else 0.0
            t_start = time.time()
            t0 = time.perf_counter()
            with tracer.span(self.wl.name, "request", rid):
                res = self.wl.request(batch, tracer, rid)
            wall = time.perf_counter() - t0
            res.t_start, res.t_end = t_start, t_start + wall
            res.gc_ms = tracer.gc_ms() - gc0 if tracer.enabled else 0.0
            res.rid = rid
            self.wl.check(batch, res)
        except Exception:  # one failed request must not end the run
            traceback.print_exc(file=sys.stderr)
            self.failed += 1
            return None
        return wall, res


def layer_metrics(tracer, res) -> dict:
    """Per-layer numbers of one traced request."""
    spans = [s for s in tracer.spans if s.request == res.rid and s.kind != "request"]
    wall_ms = (res.t_end - res.t_start) * 1e3
    m = {f"{s.name}.{s.kind}_ms": (s.end - s.start) * 1e3 for s in spans}
    m["trace.span_share"] = sum(m.values()) / wall_ms
    span_of_job = {}
    for s in spans:
        key = f"{s.name}.{s.kind}"
        span_of_job.update({j: key for j in s.jobs})
        if s.name in LAYERS_WITH_ACTION:
            m[f"{s.name}.jobs"] = m.get(f"{s.name}.jobs", 0) + len(s.jobs)
    jobs = [tracer.job(j) for j in span_of_job]
    m["spark.jobs"] = len(jobs)
    m["spark.tasks"] = sum(j.tasks for j in jobs)
    m["spark.failed_tasks"] = sum(j.failed_tasks for j in jobs)
    busy, last = 0.0, res.t_start * 1e3
    for j in sorted(jobs, key=lambda j: j.start_ms):
        lo, hi = max(j.start_ms, last), min(j.end_ms, res.t_end * 1e3)
        if hi > lo:
            busy += hi - lo
            last = hi
    m["spark.job_ms"] = busy
    m["spark.driver_gap_ms"] = wall_ms - busy
    m["catalyst.analysis_ms"] = sum(tracer.analysis_ms(df) for df in res.call_results)
    m["session.jvm_gc_ms"] = res.gc_ms
    for ex in tracer.new_executions():
        keys = {span_of_job[j] for j in ex["jobs"] if j in span_of_job}
        if len(keys) != 1:
            continue
        key = keys.pop()
        for node, vals in ex["nodes"]:
            layer = PYTHON_NODES.get((key, node))
            if layer:
                for metric, name in (("python_ms", "time to run Python workers"),
                                     ("bytes_to_python", "data sent to Python workers"),
                                     ("bytes_from_python", "data returned from Python workers")):
                    m[f"{layer}.{metric}"] = m.get(f"{layer}.{metric}", 0) + vals.get(name, 0)
                if layer == "sources.mvt.decode":
                    m["operators.shave.rows_in"] = vals.get("number of output rows", 0)
            if node == "Exchange" and key in SHUFFLE_SPANS:
                metric = SHUFFLE_SPANS[key]
                m[metric] = m.get(metric, 0) + vals.get("shuffle bytes written", 0)
    m.update(res.counters)
    if "operators.shave.rows_out" in m and m.get("operators.shave.rows_in"):
        m["operators.shave.keep_ratio"] = m["operators.shave.rows_out"] / m["operators.shave.rows_in"]
    return m


def log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # Python workers import the engine too: they inherit PYTHONPATH.
    # Temporary files (py4j connection info, Python workers) stay in
    # the checkout.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    (WORK / "tmp").mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(WORK / "tmp")
    # two malloc arenas for the JVM's native buffers: with the engine's
    # no-trim malloc settings, how many per-thread arenas a run happens
    # to touch otherwise moves its peak RSS by hundreds of MB
    os.environ["MALLOC_ARENA_MAX"] = "2"
    sys.path.insert(0, str(ROOT))
    from perfbench.trace import NullTracer, Tracer
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"--workload must be one of {sorted(WORKLOADS)}")
    wl = WORKLOADS[args.workload](args.seed)
    runner = Runner(wl, NullTracer())

    t0 = time.perf_counter()
    spark = start_session(args.workload)
    session_s = time.perf_counter() - t0
    try:
        # set-up: inputs generated, engine inputs built, cached and
        # filled, then the workload's warm-up requests
        t0 = time.perf_counter()
        wl.generate()
        gen_s = time.perf_counter() - t0
        wl.compute_reference()  # off the clock: not part of set-up
        t0 = time.perf_counter()
        wl.build(spark)
        build_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        warm = [runner.one(i % wl.batches) for i in range(wl.warmup)]
        warm_s = time.perf_counter() - t0
        setup_s = session_s + gen_s + build_s + warm_s
        log(f"set-up: session {session_s:.2f} s, generate {gen_s:.2f} s, build "
            f"{build_s:.2f} s, warm-up {warm_s:.2f} s: "
            + ", ".join(f"{w[0]:.2f}" if w else "failed" for w in warm))

        measured, traced = [], []
        tracer = Tracer(spark) if args.trace else None
        t_end = time.perf_counter() + args.seconds
        k = 0
        while time.perf_counter() < t_end or k < MIN_REQUESTS * (2 if tracer else 1):
            # traced runs alternate traced and untraced requests, each
            # kind cycling through every batch
            use_tracer = tracer if tracer and k % 2 == 0 else None
            if use_tracer:
                tracer.new_executions()  # skip executions of untraced requests
            batch = (k // 2 if tracer else k) % wl.batches
            done = runner.one(batch, use_tracer)
            k += 1
            if done is None:
                continue
            if use_tracer:
                lm = layer_metrics(tracer, done[1])
                lm.update(wl.staged(batch))
                traced.append((done, lm))
            else:
                measured.append(done)
        log("requests (s): " + ", ".join(f"{w:.2f}" for w, _ in measured))
        rss = peak_rss_mb(spark)
        if tracer:
            tracer.dump(str(WORK / f"spans-{args.workload}-{args.seed}.json"))
    finally:
        wl.release()
        stop_session(spark)

    def ips(done):
        return sum(r.items for _, r in done) / sum(w for w, _ in done) if done else 0.0

    if args.trace:
        units = per_layer_units()
        rows = [lm for _, lm in traced]
        values = {name: statistics.median(r.get(name, 0.0) for r in rows) if rows else 0.0
                  for name in units}
        values["trace.items_per_s"] = ips([d for d, _ in traced])
        values["trace.untraced_items_per_s"] = ips(measured)
        if values["trace.items_per_s"]:
            values["trace.overhead_pct"] = 100.0 * (
                values["trace.untraced_items_per_s"] / values["trace.items_per_s"] - 1.0)
        samples = f"{len(traced)} traced + {len(measured)} untraced requests"
    else:
        units = END_TO_END
        values = {
            "items_per_s": ips(measured),
            "request_ms_p50": 1e3 * statistics.median(w for w, _ in measured) if measured else 0.0,
            "setup_s": setup_s,
            "peak_rss_mb": rss,
            # workloads without an encoder report the neutral ratio 1
            "out_bytes_per_in_byte": (sum(r.out_bytes for _, r in measured)
                                      / sum(r.in_bytes for _, r in measured)
                                      if measured and measured[0][1].in_bytes else 1.0),
        }
        samples = f"{len(measured)} requests"
    print(f"# {args.workload} seed={args.seed} trace={args.trace}: {samples}, "
          f"{runner.failed} failed of {runner.attempted} attempted")
    for name, unit in units.items():
        print(f"#   {name} = {values[name]:.6g} {unit}")
    ok = runner.failed == 0
    print(json.dumps({
        "correct": ok,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {n: {"value": values[n], "unit": u} for n, u in units.items()},
    }))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
