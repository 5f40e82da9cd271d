#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload llm_pipeline --seed 1 --seconds 10 --trace 0

One driver process, one client, one operation in flight (closed loop),
on ``local[<nproc>]``. The run generates its inputs from ``--seed``,
sets up (Spark session, query registry, ``.bro`` source, one warm-up
pass), makes the workload's untimed settle passes, checks every
operation's output, and measures as many whole passes as fill
``--seconds`` at the workload's nominal pass time. The last
stdout line is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics under ``--trace 0`` and the per-layer
metrics under ``--trace 1``. The line before it is the run record
(host, load, seed, versions, codec backend, per-pass timings). See
``perfbench/README.md`` for what each workload and metric means.
"""

from __future__ import annotations

import time

_T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from collections import defaultdict  # noqa: E402
from dataclasses import dataclass  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MIB = float(1 << 20)
DRIVER_MEM = "1g"

END_TO_END = {"setup_s": "s", "pass_s": "s", "peak_rss_mib": "MiB"}

PER_LAYER = {
    "session.start_s": "s",
    "registry.load_s": "s",
    "queries.build_s": "s",
    "queries.build_stages": "count",
    "plans.plan_s": "s",
    "plans.exchanges": "count",
    "plans.sort_merge_joins": "count",
    "exec.exec_s": "s",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.failed_tasks": "count",
    "exec.executor_run_s": "s",
    "exec.input_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes",
    "exec.core_busy_frac": "ratio",
    "bro_codec.encode_mib_s": "MiB/s",
    "bro_codec.decode_mib_s": "MiB/s",
    "bro_codec.bro2_write_mib_s": "MiB/s",
    "bro_codec.bro2_read_mib_s": "MiB/s",
    "bro_datasource.write_s": "s",
    "bro_datasource.read_s": "s",
    "bro_datasource.read_partitions": "count",
    "bro_datasource.stored_bytes": "bytes",
    "bro_spark.write_s": "s",
    "bro_spark.read_s": "s",
    "bro_spark.read_partitions": "count",
    "ds_write_mib_s": "MiB/s",
    "ds_read_mib_s": "MiB/s",
    "text_write_mib_s": "MiB/s",
    "text_read_mib_s": "MiB/s",
    "stored_ratio": "ratio",
    "bench.verify_s": "s",
    "trace.pass_s": "s",
    "trace.unattributed_s": "s",
    "trace.overhead_s": "s",
}

# span name -> per-layer self-time metric
SELF_TIME = {
    "queries.build": "queries.build_s",
    "plans.plan": "plans.plan_s",
    "exec.exec": "exec.exec_s",
    "bench.verify": "bench.verify_s",
    "bro_datasource.write": "bro_datasource.write_s",
    "bro_datasource.read": "bro_datasource.read_s",
    "bro_spark.write": "bro_spark.write_s",
    "bro_spark.read": "bro_spark.read_s",
    "bench.pass": "trace.unattributed_s",
    "bench.op": "trace.unattributed_s",
}

# bro_io operation -> its throughput metric
BRO_OPS = {
    "ds_write": "ds_write_mib_s",
    "ds_read": "ds_read_mib_s",
    "text_write": "text_write_mib_s",
    "text_read": "text_read_mib_s",
}


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--toy", action="store_true",
                    help="self-test size: sf0.001 tables, 1 MiB corpus")
    return ap.parse_args(argv)


def configure_env(work: str, cpus: int) -> None:
    """Process environment for Spark, set before the JVM starts, so
    that the session, its JVM and its Python workers stay inside
    ``work`` and find the engine package."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEM": DRIVER_MEM,
        "PYTHONPATH": ROOT + (os.pathsep + path if path else ""),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "TZ": "UTC",
        "PYSPARK_SUBMIT_ARGS": (
            # heap committed and touched up front, so the JVM's share of
            # peak_rss_mib does not depend on when G1 grows the heap
            f"--conf 'spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
            f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch' "
            f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
            "--conf spark.ui.showConsoleProgress=false pyspark-shell"
        ),
    })
    time.tzset()
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids[ppid].append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.extend(kids.get(p, []))
        todo.extend(kids.get(p, []))
    return out


def vm_hwm_kib(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def git_commit() -> str | None:
    head = os.path.join(ROOT, ".git", "HEAD")
    try:
        with open(head) as f:
            ref = f.read().strip()
        if not ref.startswith("ref: "):
            return ref
        name = ref[5:]
        loose = os.path.join(ROOT, ".git", name)
        if os.path.exists(loose):
            with open(loose) as f:
                return f.read().strip()
        with open(os.path.join(ROOT, ".git", "packed-refs")) as f:
            for line in f:
                if line.rstrip().endswith(" " + name):
                    return line.split()[0]
    except OSError:
        pass
    return None


def codec_backend() -> tuple[str, bool]:
    """The backend ``format("bro")`` writes with by default, and whether
    it is a native brotli (wheel or system libbrotli via ctypes)."""
    from hadoop_brotli_spark.sources import bro_codec, brotli_ctypes

    backend = bro_codec.resolve_backend(bro_codec.BroConfig())
    if backend != "brotli":
        return backend, False
    if bro_codec.HAS_BROTLI:
        return "brotli/wheel", True
    if brotli_ctypes.available():
        return "brotli/ctypes", True
    return "brotli/pure-python", False


def stop_spark(spark) -> None:
    """Stop the session, end its JVM (and with it the Python workers)
    and wait until every process it started has exited."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    started = descendants(os.getpid())
    spark.stop()
    try:
        gateway.shutdown()
    except Exception:  # the JVM may already be gone
        traceback.print_exc()
    if proc is not None:
        # the JVM exits when its stdin closes
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    alive = [p for p in started if os.path.exists(f"/proc/{p}")]
    while alive and time.monotonic() < deadline:
        time.sleep(0.1)
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")]
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


@dataclass
class PassRecord:
    traced: bool
    wall_s: float
    op_s: dict
    counts: dict
    root_span: int | None


@dataclass
class Outcomes:
    attempted: int = 0
    failed: int = 0


def run_pass(ctx, wl, rng: random.Random, out: Outcomes, traced: bool) -> PassRecord:
    from workloads import PassStats

    ops = wl.pass_ops(rng)
    tracer = ctx.tracer
    tracer.enabled = traced
    stats = PassStats() if traced else None
    if traced:
        ctx.cursor = ctx.store.cursor()
    op_s: dict[str, float] = {}
    t0 = time.perf_counter()
    with tracer.span("bench.pass") as root:
        for name, op in ops:
            with tracer.span("bench.op"):
                t = time.perf_counter()
                try:
                    ok = op(ctx, stats)
                except Exception:
                    traceback.print_exc()
                    ok = False
                op_s[name] = time.perf_counter() - t
            out.attempted += 1
            if not ok:
                out.failed += 1
                print(f"# {wl.name}: {name} failed its output check", file=sys.stderr)
    wall = time.perf_counter() - t0
    tracer.enabled = False
    wl.cleanup()
    return PassRecord(traced, wall, op_s, dict(stats.counts) if stats else {},
                      root.id if root is not None else None)


def pass_count(wl, args: argparse.Namespace) -> int:
    """Whole passes that fill ``--seconds`` at the workload's nominal
    pass time, at least one. The count depends only on the arguments,
    so every run measures the same pass positions after warm-up, and a
    faster program measures for less time. A traced run alternates
    untraced and traced passes, starting and ending untraced, so the
    tracing overhead is not confounded with the JIT still warming up."""
    n = max(1, round(args.seconds / wl.nominal_pass_s))
    return max(3, n | 1) if args.trace else n


def cpu_steal() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def layer_metrics(wl, tracer, passes: list[PassRecord], setup: dict, cores: int,
                  probe: dict) -> dict[str, float]:
    traced = [p for p in passes if p.traced]
    plain = [p for p in passes if not p.traced]
    m = {k: 0.0 for k in PER_LAYER}
    m["session.start_s"] = setup["session_s"]
    m["registry.load_s"] = setup["registry_s"]
    per_pass = []
    for p in traced:
        row: dict[str, float] = defaultdict(float)
        for span, secs in tracer.self_times(p.root_span).items():
            if span in SELF_TIME:
                row[SELF_TIME[span]] += secs
        row.update(p.counts)
        per_pass.append(row)
    for key in set().union(*per_pass) if per_pass else ():
        if key in m:
            m[key] = _median(r.get(key, 0.0) for r in per_pass)
    if m["exec.exec_s"] > 0:
        m["exec.core_busy_frac"] = m["exec.executor_run_s"] / (m["exec.exec_s"] * cores)
    corpus = getattr(wl, "bytes", 0)
    if corpus:
        for op, metric in BRO_OPS.items():
            m[metric] = corpus / MIB / _median(p.op_s[op] for p in plain)
        m["stored_ratio"] = m["bro_datasource.stored_bytes"] / corpus
    m["trace.pass_s"] = _median(p.wall_s for p in traced)
    m["trace.overhead_s"] = m["trace.pass_s"] - _median(p.wall_s for p in plain)
    m.update(probe)
    return m


def run(args: argparse.Namespace, cpus: int, work: str) -> tuple[dict, dict]:
    load_before = os.getloadavg()
    steal_before = cpu_steal()
    import workloads
    from spans import Tracer

    wl = workloads.make(args.workload, args.toy)
    t = time.perf_counter()
    inputs = wl.generate(work, args.seed)
    generate_s = time.perf_counter() - t

    tracer = Tracer()
    tracer.enabled = bool(args.trace)
    with tracer.span("session.start"):
        t = time.perf_counter()
        import pyspark

        from hadoop_brotli_spark.session import get_spark
        from hadoop_brotli_spark.sources.bro_datasource import register_bro_source

        spark = get_spark("perfbench")
        register_bro_source(spark)
        session_s = time.perf_counter() - t
    try:
        with tracer.span("registry.load"):
            t = time.perf_counter()
            from hadoop_brotli_spark.registry import load_all_queries

            specs = load_all_queries()
            registry_s = time.perf_counter() - t
        tracer.enabled = False
        backend, native = codec_backend()
        valid = native or args.workload != "bro_io"
        if not valid:
            print(f"# bro_io run invalid: codec backend is {backend}", file=sys.stderr)

        from status import StatusStore

        ctx = workloads.Context(spark, specs, tracer, StatusStore(spark))
        t = time.perf_counter()
        wl.prepare(ctx)
        prepare_s = time.perf_counter() - t

        rng = random.Random(args.seed)
        out = Outcomes()
        warm = run_pass(ctx, wl, rng, out, traced=False)
        setup_s = time.perf_counter() - _T0 - generate_s - prepare_s - wl.excluded_s
        settle = [run_pass(ctx, wl, rng, out, traced=False) for _ in range(wl.settle_passes)]

        passes = [
            run_pass(ctx, wl, rng, out, traced=bool(args.trace) and i % 2 == 1)
            for i in range(pass_count(wl, args))
        ]

        probe: dict[str, float] = {}
        if args.trace:
            tracer.enabled = True
            try:
                wl.probe(ctx, probe)
            except Exception:
                traceback.print_exc()
                out.attempted += 1
                out.failed += 1
            tracer.enabled = False
        jvm = getattr(spark.sparkContext._gateway, "proc", None)
        rss = {"driver": vm_hwm_kib(os.getpid()), "jvm": 0, "workers": 0, "n_workers": 0}
        for p in descendants(os.getpid()):
            if jvm is not None and p == jvm.pid:
                rss["jvm"] = vm_hwm_kib(p)
            else:
                rss["workers"] += vm_hwm_kib(p)
                rss["n_workers"] += 1
        peak_kib = rss["driver"] + rss["jvm"] + rss["workers"]
    finally:
        stop_spark(spark)

    steal = cpu_steal()
    if args.trace:
        metrics = layer_metrics(
            wl, tracer, passes, {"session_s": session_s, "registry_s": registry_s},
            cpus, probe,
        )
        units = PER_LAYER
        trace_dir = os.path.join(ROOT, ".perfbench", "traces")
        os.makedirs(trace_dir, exist_ok=True)
        tracer.dump(os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.json"))
    else:
        metrics = {
            "setup_s": setup_s,
            "pass_s": _median(p.wall_s for p in passes),
            "peak_rss_mib": peak_kib / 1024.0,
        }
        units = END_TO_END
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "toy": args.toy,
        "nproc": cpus,
        "loadavg_before": load_before,
        "loadavg_after": os.getloadavg(),
        "cpu_steal_frac": (steal[0] - steal_before[0]) / max(1, steal[1] - steal_before[1]),
        "commit": git_commit(),
        "pyspark": pyspark.__version__,
        "codec_backend": backend,
        "valid": valid,
        "inputs": inputs,
        "setup": {"setup_s": setup_s, "session_s": session_s, "registry_s": registry_s,
                  "warmup_pass_s": warm.wall_s, "settle_pass_s": [p.wall_s for p in settle],
                  "generate_s": generate_s,
                  "oracle_s": prepare_s + wl.excluded_s},
        "peak_rss_kib": rss,
        "passes": [{"traced": p.traced, "wall_s": p.wall_s, "op_s": p.op_s} for p in passes],
    }
    result = {
        "correct": valid and out.failed == 0,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }
    return result, record


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "hadoop_brotli_spark")):
        print(f"no engine package next to {HERE}; run from a full checkout",
              file=sys.stderr)
        return 2
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {workloads.WORKLOADS}",
              file=sys.stderr)
        return 2
    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    configure_env(work, cpus)
    try:
        result, record = run(args, cpus, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(record))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
