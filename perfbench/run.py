"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload batch_1bit --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. Inputs are generated from --seed into
.perfbench/ (ignored by git); every file the run writes, Spark's scratch
space included, stays under that directory. With --trace 0 the last line
holds the end-to-end metrics, with --trace 1 the per-layer metrics of a run
that tags every layer call with a Spark job group and reads the counters
from Spark's event log.

Exit codes: 0 when every op passed its checks, 1 when some op failed
(the JSON line is still printed), 2 when the engine is missing.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()  # process start, for setup_s

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from collections import Counter  # noqa: E402
from types import SimpleNamespace  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(ROOT, ".perfbench")
HARD_LIMIT_S = 140.0  # no new cycle starts after this, so a run ends within 180 s

END_TO_END = {
    "setup_s": "s",
    "op_ms_p50": "ms",
    "items_per_s": "items/s",
    "recall": "fraction",
    "peak_rss_mb": "MB",
}
PER_LAYER = {
    "session.start_s": "s",
    "build.train_s": "s",
    "build.quantize_s": "s",
    "build.jobs": "count",
    "build.tasks": "count",
    "upsert.call_ms": "ms",
    "upsert.visible_ms": "ms",
    "upsert.plan_nodes": "count",
    "search.call_ms": "ms",
    "search.action_ms": "ms",
    "search.jobs": "count",
    "search.stages": "count",
    "search.tasks": "count",
    "search.driver_gap_ms": "ms",
    "search.executor_run_s": "s",
    "search.shuffle_mb": "MB",
    "search.rough_per_query": "count",
    "search.precise_per_query": "count",
    "search.precise_over_rough": "fraction",
    "search.arrow_kernel": "bool",
    "dedup.call_s": "s",
    "dedup.action_s": "s",
    "dedup.jobs": "count",
    "dedup.shuffle_mb": "MB",
    "dedup.task_skew": "ratio",
    "dedup.pairs_out": "count",
    "jvm.gc_s": "s",
    "trace.overhead_frac": "fraction",
}


def _med(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def _steal_share() -> tuple[int, int]:
    """(steal, total) CPU ticks of the machine so far, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def _prepare_env() -> None:
    """Keep every file Spark, the JVM and the engine write inside CACHE."""
    tmp = os.path.join(CACHE, "tmp", str(os.getpid()))
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(CACHE, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(_cpus())
    os.environ["SPARK_DRIVER_MEM"] = "1g"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    # every JVM the run starts (the spark-submit launcher too) would
    # otherwise write its perf-data file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"


def _start_spark(trace: bool, event_dir: str):
    from rabitq_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(CACHE, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Xms{os.environ['SPARK_DRIVER_MEM']} -XX:+AlwaysPreTouch "
            f"-Djava.io.tmpdir={os.environ['TMPDIR']} "
            f"-Dderby.system.home={os.path.join(CACHE, 'derby')}"
        ),
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark("perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM and every process under it, and wait."""
    from tracing import tree_pids

    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    pids = [p for p in tree_pids(os.getpid()) if p != os.getpid()]
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 20
    for pid in pids:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, 9)
            except ProcessLookupError:
                pass


def _layer_metrics(wl, ops, setup_spans, session_s, gc_s, groups) -> dict:
    """Per-layer metrics of a traced run. Counts come from the traced ops of
    the first `min_cycles` cycles, so two runs of one seed repeat them."""
    from tracing import GroupStats, uncovered_ms

    def grp(*spans) -> GroupStats:
        out = GroupStats()
        for s in spans:
            if s and s.get("group"):
                out = out.add(groups.get(s["group"], GroupStats()))
        return out

    m = {k: 0.0 for k in PER_LAYER}
    m["session.start_s"] = session_s
    m["jvm.gc_s"] = gc_s
    prefix = wl.min_cycles * len(wl.cycle)
    ok = [o for o in ops if o.index >= 0 and o.error is None]
    counted = [o for o in ok if o.traced and o.index < prefix]

    train, quantize = setup_spans.get("build.train"), setup_spans.get("build.quantize")
    if train:
        m["build.train_s"] = train["dur"]
        m["build.quantize_s"] = quantize["dur"]
        m["build.jobs"] = grp(train, quantize).jobs
        m["build.tasks"] = grp(train, quantize).tasks

    ups = [o for o in ok if o.kind == "upsert"]
    if ups:
        m["upsert.call_ms"] = _med(o.layer["upsert.call"]["dur"] * 1e3 for o in ups)
        m["upsert.visible_ms"] = _med(o.dur_s * 1e3 for o in ups)
        m["upsert.plan_nodes"] = _med(
            o.layer["upsert.plan_nodes"] for o in counted if o.kind == "upsert"
        )

    prim = [o for o in ok if o.kind == wl.primary]
    traced = [o for o in prim if o.traced]
    untraced = [o for o in prim if not o.traced]
    if traced and untraced:
        m["trace.overhead_frac"] = (
            _med(o.dur_s for o in traced) / _med(o.dur_s for o in untraced) - 1.0
        )
    cprim = [o for o in counted if o.kind == wl.primary]
    if wl.primary in ("batch", "lookup"):
        def g(o):
            return grp(o.layer["search.call"], o.layer["search.action"])

        m["search.call_ms"] = _med(o.layer["search.call"]["dur"] * 1e3 for o in traced)
        m["search.action_ms"] = _med(o.layer["search.action"]["dur"] * 1e3 for o in traced)
        m["search.jobs"] = _med(g(o).jobs for o in cprim)
        m["search.stages"] = _med(g(o).stages for o in cprim)
        m["search.tasks"] = _med(g(o).tasks for o in cprim)
        m["search.driver_gap_ms"] = _med(
            uncovered_ms(o.layer["search.call"]["start"], o.layer["search.action"]["end"],
                         g(o).job_spans_ms)
            for o in traced
        )
        m["search.executor_run_s"] = _med(g(o).executor_run_ms / 1e3 for o in traced)
        m["search.shuffle_mb"] = _med(g(o).shuffle_write_bytes / 2**20 for o in cprim)
        m["search.rough_per_query"] = _med(o.layer["search.rough"] / o.items for o in cprim)
        m["search.precise_per_query"] = _med(o.layer["search.precise"] / o.items for o in cprim)
        m["search.precise_over_rough"] = _med(
            o.layer["search.precise"] / max(o.layer["search.rough"], 1) for o in cprim
        )
        m["search.arrow_kernel"] = max((o.layer["search.arrow_kernel"] for o in cprim), default=0)
    else:
        def g(o):
            return grp(o.layer["dedup.call"], o.layer["dedup.action"])

        m["dedup.call_s"] = _med(o.layer["dedup.call"]["dur"] for o in traced)
        m["dedup.action_s"] = _med(o.layer["dedup.action"]["dur"] for o in traced)
        m["dedup.jobs"] = _med(g(o).jobs for o in cprim)
        m["dedup.shuffle_mb"] = _med(g(o).shuffle_write_bytes / 2**20 for o in cprim)
        m["dedup.task_skew"] = _med(g(o).task_skew() for o in traced)
        m["dedup.pairs_out"] = _med(o.layer["dedup.pairs_out"] for o in cprim)
    return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import rabitq_spark
    except ImportError as exc:
        print(f"perfbench: cannot import the engine from {ROOT}: {exc}", file=sys.stderr)
        return 2
    if os.path.dirname(os.path.dirname(os.path.abspath(rabitq_spark.__file__))) != ROOT:
        print(f"perfbench: the engine was imported from {rabitq_spark.__file__}, "
              f"not from this checkout {ROOT}", file=sys.stderr)
        return 2
    import workloads
    from tracing import PeakRss, Tracer, jvm_gc_ms, parse_event_log

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    _prepare_env()
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    ctx = SimpleNamespace(
        seed=args.seed, trace=bool(args.trace), spark=None, tracer=Tracer(),
    )
    wl = workloads.WORKLOADS[args.workload](ctx)
    ctx.data_dir = os.path.join(CACHE, "inputs", wl.input_key())
    t = time.perf_counter()
    wl.generate()
    gen_s = time.perf_counter() - t

    event_dir = os.path.join(CACHE, "events", f"{tag}-{os.getpid()}")
    if args.trace:
        os.makedirs(event_dir)
    ops: list = []
    failures: list[str] = []

    def run_op(i, kind, n_kind):
        try:
            ops.append(wl.op(i, kind, n_kind))
        except Exception as exc:  # an op that raises is a failed op; go on
            msg = f"op={i} kind={kind}: {type(exc).__name__}: {exc}"
            if not isinstance(exc, workloads.CheckFailed):
                traceback.print_exc(file=sys.stderr)
            failures.append(msg)
            ops.append(workloads.OpResult(i, kind, 0.0, 0, False, error=msg))
            print("FAIL " + msg, flush=True)

    with PeakRss() as rss:
        t = time.perf_counter()
        spark = _start_spark(bool(args.trace), event_dir)
        session_s = time.perf_counter() - t
        ctx.spark = spark
        ctx.tracer = tracer = Tracer(spark.sparkContext, groups=bool(args.trace))
        try:
            t = time.perf_counter()
            wl.setup()
            setup_only_s = time.perf_counter() - t
            for w in range(wl.warmup_ops):
                run_op(-1 - w, wl.primary, -1 - w)
            first_op = time.perf_counter()
            setup_s = first_op - T0 - gen_s

            gc0 = jvm_gc_ms(spark)
            steal0 = _steal_share()
            deadline = first_op + args.seconds
            counts: Counter = Counter()
            n, cycles = 0, 0
            while True:
                for kind in wl.cycle:
                    run_op(n, kind, counts[kind])
                    counts[kind] += 1
                    n += 1
                cycles += 1
                now = time.perf_counter()
                if (cycles >= wl.min_cycles and now >= deadline) or now - T0 > HARD_LIMIT_S:
                    break
            gc_s = (jvm_gc_ms(spark) - gc0) / 1e3
            steal1 = _steal_share()
            steal = (steal1[0] - steal0[0]) / max(steal1[1] - steal0[1], 1)
            rss.poll()
        finally:
            _stop_spark(spark)
    peak_rss_mb = rss.peak / 2**20
    shutil.rmtree(os.environ["TMPDIR"], ignore_errors=True)

    timed = [o for o in ops if o.index >= 0 and o.error is None]
    prim = [o for o in timed if o.kind == wl.primary]
    if args.trace:
        groups = parse_event_log(event_dir)
        shutil.rmtree(event_dir, ignore_errors=True)
        setup_spans = {s["name"]: s for s in tracer.spans if s["op"] is None}
        metrics = _layer_metrics(wl, ops, setup_spans, session_s, gc_s, groups)
        units = PER_LAYER
    else:
        metrics = {
            "setup_s": setup_s,
            "op_ms_p50": _med(o.dur_s * 1e3 for o in prim),
            "items_per_s": (
                sum(o.items for o in timed) / sum(o.dur_s for o in timed) if timed else 0.0
            ),
            "recall": statistics.fmean(o.recall for o in prim) if prim else 0.0,
            "peak_rss_mb": peak_rss_mb,
        }
        units = END_TO_END
    tracer.dump(os.path.join(CACHE, "spans", f"{tag}.json"))
    with open(os.path.join(CACHE, "spans", f"{tag}.ops.json"), "w") as f:
        json.dump([{"index": o.index, "kind": o.kind, "dur_s": o.dur_s, "recall": o.recall,
                    "traced": o.traced, "error": o.error} for o in ops], f)

    phases = {"gen_s": gen_s, "session_s": session_s, "setup_s": setup_only_s,
              "ops": len(ops), "ops_s": sum(o.dur_s for o in ops),
              "total_s": time.perf_counter() - T0, "steal_share": steal,
              "hwm_mb": sorted((v >> 20 for v in rss.by_process().values()), reverse=True)}
    print(f"perfbench {tag}: {json.dumps(phases)}", file=sys.stderr)
    correct = not failures and bool(prim)
    print(json.dumps({
        "correct": correct,
        "attempted": len(ops),
        "failed": len(failures),
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
