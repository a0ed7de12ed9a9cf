"""Tiling-engine benchmark: one closed-loop client driving the engine.

    python3 perfbench/run.py --workload tile_job --seed 1 --seconds 5 --trace 0

Workloads (see README.md): tile_job, tile_rollup, near_dup.  The driver
process makes each call only after the previous one returns.  It starts
Spark through `session.get_spark` with cores = the CPUs this process may
use and shuffle_partitions = 2 x cores, and leaves heap size to the
program.

Inputs missing from the cache are generated first, untimed.  --trace 0
then sets up once, in a JVM of its own (`setup_s`), and repeats
the workload's calls until --seconds have passed (at least once) and
reports medians with tracing off.  --trace 1 first runs the workload
untraced once, then starts a new JVM with the event log on, runs it
traced until --seconds have passed, and folds the log onto the
benchmark's spans for the per-layer metrics.  The spans and stages go to
perfbench/.runs/trace-<workload>-s<seed>.json.

Standard output: a detail line (every workload metric, host nproc and
load average at start and end, digests), then, as the last line, the
result object {"correct", "attempted", "failed", "metrics"}.  Exit code 2
without a result when the engine package is not beside perfbench/.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RSS_PERIOD = 0.2  # seconds between RSS samples


class Context:
    """Run-wide settings and the run's directories, all inside perfbench/."""

    def __init__(self, workload: str, seed: int):
        self.seed = seed
        self.cores = len(os.sched_getaffinity(0))
        self.cache_dir = os.path.join(HERE, ".cache")
        self.work_dir = os.path.join(HERE, ".work", f"{workload}-{os.getpid()}")
        self.warehouse = os.path.join(self.work_dir, "warehouse")
        self.tmp = os.path.join(self.work_dir, "tmp")
        for d in (self.cache_dir, self.warehouse, self.tmp):
            os.makedirs(d, exist_ok=True)
        # scratch space of the driver, the JVM and the Python workers.
        # Every JVM (the launcher too) reads JAVA_TOOL_OPTIONS before its
        # command line, so the program's own JVM options still apply; the
        # hsperfdata file would go to /tmp whatever java.io.tmpdir says.
        os.environ.update({
            "TMPDIR": self.tmp, "SPARK_LOCAL_DIRS": self.tmp,
            "SPARK_GRAFT_WAREHOUSE": self.warehouse,
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={self.tmp}"
                                 " -XX:-UsePerfData"})
        tempfile.tempdir = None

    def start_session(self, event_log: str | None = None):
        from batch3dfier_spark.session import get_spark

        conf = {
            "spark.local.dir": self.tmp,
            "spark.ui.showConsoleProgress": "false",
        }
        if event_log:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_log,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        spark = get_spark(app_name="perfbench", cores=self.cores,
                          shuffle_partitions=2 * self.cores, extra_conf=conf)
        spark.sparkContext.setLogLevel("ERROR")
        return spark


class RssSampler:
    """Peak summed RSS of this process and all its descendants (driver,
    JVM, Python workers), sampled from /proc every RSS_PERIOD seconds."""

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _tree_rss(self) -> int:
        children: dict[int, list[int]] = {}
        for p in os.listdir("/proc"):
            if not p.isdigit():
                continue
            try:
                with open(f"/proc/{p}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(p))
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            todo.extend(children.get(pid, []))
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                pass
        return total

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, self._tree_rss())
            self._stop.wait(RSS_PERIOD)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)


def setup(wl, ctx: Context, tracer, event_log: str | None = None) -> float:
    """Session start in a JVM of its own (any earlier one is stopped
    first, untimed), input load from the cache, and warm-up."""
    stop_jvm(wl.spark)
    wl.spark = None
    t0 = time.perf_counter()
    with tracer.span("session.get_spark"):
        wl.spark = ctx.start_session(event_log)
    tracer.sc = wl.spark.sparkContext if tracer.enabled else None
    with tracer.span("inputs"):
        wl.prepare()
    with tracer.span("session.warmup"):
        wl.warmup()
    return time.perf_counter() - t0


def run_iteration(wl, tracer, k: int, first_digests: dict) -> dict:
    """One pass over the workload's calls.  A call fails if it raises or
    fails its check, or if its output digest differs from the first
    iteration's; the calls after a raising call count as failed."""
    from inputs import digest
    from workloads import CheckFailed

    st = {"k": k}
    rec = {"calls": [], "attempted": 0, "failed": 0, "st": st}
    with tracer.span("iteration"):
        done = 0
        try:
            for name, call, check in wl.calls(st):
                done += 1
                rec["attempted"] += 1
                with tracer.span(name):
                    t0 = time.perf_counter()
                    try:
                        out = call()
                    finally:
                        rec["calls"].append((name, time.perf_counter() - t0))
                try:
                    d = digest(check(out))
                except CheckFailed as e:
                    print(f"perfbench: check failed: {name}: {e}",
                          file=sys.stderr)
                    rec["failed"] += 1
                    continue
                key = f"{done}:{name}"
                if first_digests.setdefault(key, d) != d:
                    print(f"perfbench: {key} output differs from the first "
                          "iteration's", file=sys.stderr)
                    rec["failed"] += 1
        except Exception:
            traceback.print_exc()
            rest = wl.n_calls - done
            rec["attempted"] += rest
            rec["failed"] += 1 + rest
    rec["workload_s"] = sum(t for _, t in rec["calls"])
    print(f"perfbench: iteration {k}: "
          + ", ".join(f"{n} {t:.2f}s" for n, t in rec["calls"]),
          file=sys.stderr)
    wl.cleanup(st)
    return rec


def timed_loop(wl, tracer, seconds: float, digests: dict,
               start_k: int = 0) -> list[dict]:
    iters = []
    t_end = time.perf_counter() + seconds
    while True:
        iters.append(run_iteration(wl, tracer, start_k + len(iters), digests))
        if time.perf_counter() >= t_end:
            return iters


def stop_jvm(spark) -> None:
    """Stop Spark, then the JVM it launched, and wait for it to end."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def median_of(iters, key="workload_s") -> float:
    return statistics.median(i[key] for i in iters)


def run_plain(wl, ctx, args, digests) -> tuple[list, dict]:
    from tracing import Tracer

    off = Tracer()
    wl.generate()
    setup_s = setup(wl, ctx, off)
    with RssSampler() as rss:
        iters = timed_loop(wl, off, args.seconds, digests)
    return iters, {"setup_s": (setup_s, "s"),
                   "workload_s": (median_of(iters), "s"),
                   "peak_rss_mb": (rss.peak / 2**20, "MB")}


def run_traced(wl, ctx, args, digests, spec) -> tuple[list, dict, dict]:
    """One untraced iteration, then a new JVM and session with the event
    log on and traced iterations for --seconds.  The first iteration of
    each follows a warm-up in a JVM of its own, as in an untraced run;
    their ratio is `trace.overhead_ratio`."""
    from tracing import Tracer, attach_stages, parse_event_log

    off = Tracer()
    wl.generate()
    setup(wl, ctx, off)
    plain = timed_loop(wl, off, 0, digests)
    log_dir = os.path.join(ctx.work_dir, "eventlog")
    os.makedirs(log_dir)
    tracer = Tracer(enabled=True)
    with tracer.span("setup"):
        setup_s = setup(wl, ctx, tracer, log_dir)
    with RssSampler() as rss:
        iters = timed_loop(wl, tracer, args.seconds, digests,
                           start_k=len(plain))
    extra = {}
    if hasattr(wl, "probe"):
        with tracer.span("probe"):
            extra = wl.probe()
    wl.spark.stop()
    (log,) = os.listdir(log_dir)
    parsed = parse_event_log(os.path.join(log_dir, log))
    spans = attach_stages(tracer, parsed)
    layer = per_layer(wl, iters[-1]["st"], spans, parsed, spec)
    layer.update(extra)
    layer["trace.overhead_ratio"] = (iters[0]["workload_s"]
                                     / plain[0]["workload_s"])
    write_trace(args, spans, layer, wl.breakdown(spans))
    return plain + iters, layer, {
        "setup_s": (setup_s, "s"), "workload_s": (median_of(iters), "s"),
        "peak_rss_mb": (rss.peak / 2**20, "MB")}


def per_layer(wl, st, spans, parsed, spec) -> dict:
    """Every per-layer metric of BENCHMARK.json for the last traced
    iteration: the standard set per call span (summed over the
    iteration's spans of that name, 0 where the workload makes no such
    call) plus the layer-specific ones (0 where the layer does not run)."""
    from tracing import CALL_METRICS, span_metrics

    out = {m["name"]: 0 for m in spec["per_layer"]}
    it_id = [s["id"] for s in spans if s["name"] == "iteration"][-1]
    stages_of: dict[str, list] = {}
    for s in spans:
        if "stage" in s:
            stages_of.setdefault(s["parent"], []).append(s["stage"])
    for s in spans:
        if s["parent"] == it_id and "stage" not in s:
            m = span_metrics(s, stages_of.get(s["id"], []))
            for k in CALL_METRICS:
                out[f"{s['name']}.{k}"] += m[k]
    for name in ("session.get_spark", "session.warmup"):
        s = [x for x in spans if x["name"] == name][-1]
        out[f"{name}_s"] = s["end"] - s["start"]
    out.update(wl.layer(st, spans, parsed))
    unknown = set(out) - {m["name"] for m in spec["per_layer"]}
    if unknown:
        raise KeyError(f"metrics not in BENCHMARK.json: {sorted(unknown)}")
    return out


def write_trace(args, spans, layer, breakdown) -> None:
    d = os.path.join(HERE, ".runs")
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, f"trace-{args.workload}-s{args.seed}.json")
    text = json.dumps({"workload": args.workload, "seed": args.seed,
                       "seconds": args.seconds, "per_layer": layer,
                       "breakdown": breakdown, "spans": spans}, indent=1)
    with open(path, "w") as f:
        # stage names carry call sites: keep them relative to the checkout
        f.write(text.replace(ROOT + os.sep, ""))


def run(args, spec) -> tuple[dict, dict]:
    from workloads import WORKLOADS

    ctx = Context(args.workload, args.seed)
    wl = WORKLOADS[args.workload](ctx)
    host = {"nproc": ctx.cores, "loadavg_start": os.getloadavg()}
    digests: dict = {}
    try:
        if args.trace:
            iters, layer, metrics = run_traced(wl, ctx, args, digests, spec)
        else:
            iters, metrics = run_plain(wl, ctx, args, digests)
        attempted = sum(i["attempted"] for i in iters)
        failed = sum(i["failed"] for i in iters)
        metrics.update(wl.detail(iters))
        metrics["failed_ops_ratio"] = (failed / attempted, "ratio")
    finally:
        stop_jvm(wl.spark)
        shutil.rmtree(ctx.work_dir, ignore_errors=True)
    host["loadavg_end"] = os.getloadavg()
    if args.trace:
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        shown = {k: (v, units[k]) for k, v in layer.items()}
    else:
        shown = {m["name"]: metrics[m["name"]] for m in spec["end_to_end"]}
    detail = {"workload": args.workload, "seed": args.seed,
              "trace": args.trace, "host": host, "iterations": len(iters),
              "metrics": as_json(metrics), "digests": digests}
    result = {"correct": failed == 0, "attempted": attempted,
              "failed": failed, "metrics": as_json(shown)}
    return detail, result


def as_json(metrics: dict) -> dict:
    return {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()}


def main(argv=None) -> int:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "batch3dfier_spark",
                                       "session.py")):
        print("perfbench: the batch3dfier_spark package is not beside "
              "perfbench/; run from a full checkout", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    detail, result = run(args, spec)
    print(json.dumps(detail))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.path[:0] = [ROOT, HERE]
    # Python workers import the package and these modules by name
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    sys.exit(main())
