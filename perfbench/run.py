"""Benchmark entry point.

    python3 perfbench/run.py --workload uda_sync --seed 1 --seconds 4 --trace 0

Run from the root of a source checkout. It starts Spark on
``local[<cores>]``, sets up the workload from ``--seed``, warms up,
drives the workload closed-loop for about ``--seconds``, checks every result,
and prints the run record (one JSON line) followed by the result line
(the last line of stdout):

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` wraps each
layer's public functions in spans, turns on Spark's event log, and
reports the per-layer metrics plus the tracing overhead against an
untraced run of the same workload and seed.

Everything the run writes stays under ``.bench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# (name, unit, better); every --trace 0 result carries exactly these.
# The secondary call's median, the tail and the throughput are in the
# run record only: across seeds on a shared host they spread close to
# the largest bound allowed (tails here are the maximum of at most 8
# samples, and the secondary calls are 0.1-1 s, where jitter weighs most).
END_TO_END = [
    ("setup_s", "s", "lower"),
    ("op_ms_p50", "ms", "lower"),
    ("peak_mem_mib", "MiB", "lower"),
]

_SPARK_PER_OP = [
    (f"spark.{k}_per_{op}", u)
    for op in ("flush", "read", "epoch", "pass")
    for k, u in (
        ("jobs", "count"),
        ("stages", "count"),
        ("tasks", "count"),
        ("shuffle_bytes", "B"),
        ("executor_run_ms", "ms"),
        ("result_bytes", "B"),
    )
]
_GRAPH = [
    (f"{a}_{k}", u)
    for a in ("graph.pagerank", "graph.label_prop", "graph.bfs", "graph.triangles", "components.cc")
    for k, u in (("ms", "ms"), ("jobs", "count"), ("shuffle_bytes", "B"))
]
SELF_LAYERS = [
    "model",
    "functions.localframe",
    "ingest",
    "store",
    "storage",
    "plans.cypher",
    "streaming",
    "operators.minhash",
    "operators.bm25_index",
    "operators.artifacts",
    "operators.graph_algorithms",
    "operators.components",
]
# (name, unit); every --trace 1 result carries exactly these
PER_LAYER = (
    [
        ("session.start_s", "s"),
        ("model.normalize_us_per_entity", "us"),
        ("localframe.local_df_ms_per_flush", "ms"),
        ("ingest.flush_self_ms", "ms"),
        ("storage.merge_commit_ms", "ms"),
        ("store.apply_batch_ms", "ms"),
        ("storage.load_ms", "ms"),
        ("storage.files_rewritten_share", "ratio"),
        ("storage.bytes_written_per_entity", "B"),
        ("storage.files_per_version", "count"),
        ("storage.lookup_files_read", "count"),
        ("storage.bytes_stored_per_entity", "B"),
        ("cypher.parse_ms", "ms"),
        ("cypher.build_ms", "ms"),
        ("spark.eager_jobs_per_read", "count"),
        ("catalyst.analysis_ms", "ms"),
        ("catalyst.optimization_ms", "ms"),
        ("catalyst.planning_ms", "ms"),
        ("spark.input_bytes_per_read", "B"),
        ("spark.rows_examined_per_row_returned", "ratio"),
    ]
    + _SPARK_PER_OP
    + [
        ("spark.busy_share", "ratio"),
        ("spark.failed_tasks", "count"),
        ("minhash.signatures_ms_per_epoch", "ms"),
        ("neardup.apply_ms_per_epoch", "ms"),
        ("neardup.kept_share", "ratio"),
        ("neardup.planted_recall", "ratio"),
        ("clean.quality_pass_share", "ratio"),
        ("bm25.extend_ms_per_epoch", "ms"),
        ("bm25.extend_bytes_per_doc", "B"),
        ("bm25.probe_ms", "ms"),
        ("bm25.probe_input_bytes", "B"),
        ("bm25.generations_end", "count"),
        ("artifacts.commits", "count"),
        ("artifacts.cas_retries", "count"),
    ]
    + _GRAPH
    + [("components.cc_result_bytes", "B")]
    + [(f"self_ms_per_op.{layer}", "ms") for layer in SELF_LAYERS]
    + [(f"overhead.{name}", unit) for name, unit, _ in END_TO_END]
)

# Per-workload names of the generic end-to-end metrics in the run
# record: (p50 name, tail name, unit, scale from ms), secondary, items.
NAMES = {
    "uda_sync": (("flush_s_p50", "flush_s_tail", "s", 1e-3), "lookup_ms_p50", "sync_entities_per_s"),
    "cypher_read": (("read_ms_p50", "read_ms_tail", "ms", 1.0), "point_read_ms_p50", "reads_per_s"),
    "curation_stream": (("epoch_s_p50", "epoch_s_tail", "s", 1e-3), "probe_ms_p50", "stream_docs_per_s"),
    "graph_analytics": (("analytics_pass_s", "analytics_pass_s_tail", "s", 1e-3), "cc_ms_p50", "edges_per_s"),
}


# A timed sample taken while the hypervisor stole more than this share
# of the host's CPU measures the neighbours, not the engine.
STEAL_MAX = 0.03


def steady_ms(samples: list[tuple[float, float]]) -> list[float]:
    """Milliseconds of the (seconds, steal share) samples taken with at
    most STEAL_MAX steal; all of them when fewer than half qualify."""
    kept = [dt * 1000.0 for dt, steal in samples if steal <= STEAL_MAX]
    if 2 * len(kept) < len(samples):
        kept = [dt * 1000.0 for dt, _ in samples]
    return kept


def tail(xs: list[float]) -> dict:
    """The highest percentile, at or above the median, with at least 10
    samples beyond it. With fewer than 20 samples none qualifies and
    the maximum is reported instead, marked by ``beyond`` < 10."""
    s = sorted(xs)
    n = len(s)
    if n >= 20:
        return {"value": s[n - 11], "percentile": round(100.0 * (n - 10) / n, 1), "n": n, "beyond": 10}
    return {"value": s[-1], "percentile": 100.0, "n": n, "beyond": 0}


# -- host ----------------------------------------------------------------


def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def host_state() -> dict:
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    return {"loadavg": load, "cpu_ticks": _cpu_times()}


def host_fingerprint() -> dict:
    model = ""
    with open("/proc/cpuinfo") as f:
        for line in f:
            if line.startswith("model name"):
                model = line.split(":", 1)[1].strip()
                break
    with open("/proc/meminfo") as f:
        mem_kib = int(f.readline().split()[1])
    import pyspark

    return {
        "cores": os.cpu_count(),
        "cpu": model,
        "mem_gib": round(mem_kib / 2**20, 1),
        "kernel": platform.release(),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
    }


def contention(before: dict, after: dict, own_ticks: int) -> dict:
    """CPU taken by other tenants during the run: steal, plus busy time
    on this host that is not this process tree's own."""
    # user nice system idle iowait irq softirq steal (guest time is inside user)
    d = [b - a for a, b in zip(before["cpu_ticks"][:8], after["cpu_ticks"][:8])]
    total = sum(d) or 1
    steal = d[7] / total if len(d) > 7 else 0.0
    busy = total - d[3] - d[4]  # minus idle and iowait
    others = max(0, busy - own_ticks) / total
    return {
        "load_before": before["loadavg"],
        "load_after": after["loadavg"],
        "steal_share": round(steal, 4),
        "others_cpu_share": round(others, 4),
        # kernel writeback of the run's own files also lands in "others"
        "contended": steal > 0.02 or others - steal > 0.1,
    }


def _children(pid: int) -> list[int]:
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        if ppid == pid:
            out.append(int(name))
    return out


def _tree_pids() -> list[int]:
    """This process and all of its descendants (the JVM, its workers)."""
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo += _children(pid)
    return out


def cpu_ticks_of_tree() -> int:
    total = 0
    for pid in _tree_pids():
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            # utime + stime, plus cutime + cstime of reaped children (exited workers)
            total += sum(int(x) for x in fields[11:15])
        except (OSError, ValueError, IndexError):
            pass
    return total


def _hwm_kib(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def memory(spark) -> dict:
    """Peak memory of this process tree, in MiB.

    ``peak_mem_mib``, the gated figure, is the memory the program holds
    outside the Java heap: the peak resident size (``VmHWM``) of the
    Python processes (this driver and Spark's Python workers) plus the
    peak of the JVM's non-heap pools (metaspace, code cache), which grow
    with loaded and generated code. The Java heap's own peaks follow
    G1's adaptive sizing rather than the program: across seeds on a
    4-vCPU host they spread 20-75%, so they are recorded but not gated.
    ``peak_rss_mib`` is the whole tree's ``VmHWM``, the JVM included."""
    from pyspark import SparkContext

    jvm_pid = SparkContext._gateway.proc.pid
    pids = _tree_pids()
    py = sum(_hwm_kib(p) for p in pids if p != jvm_pid) / 1024.0
    pools = {}
    for pool in spark.sparkContext._jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans():
        pools[(pool.getType().toString(), pool.getName())] = pool.getPeakUsage().getUsed() / 2**20
    # the Metaspace pool already contains the Compressed Class Space
    non_heap = sum(v for (kind, name), v in pools.items() if kind == "Non-heap memory" and name != "Compressed Class Space")
    return {
        "peak_mem_mib": py + non_heap,
        "peak_rss_mib": py + _hwm_kib(jvm_pid) / 1024.0,
        "python_hwm_mib": py,
        "jvm_non_heap_peak_mib": non_heap,
        "jvm_pool_peaks_mib": {name: v for (_, name), v in pools.items()},
    }


# -- run -------------------------------------------------------------------

CODE_DIRS = ("opencypher_datalayer_spark", "perfbench")


def code_id() -> str:
    """A hash of the engine's and the benchmark's source files in this
    checkout: a cached untraced record is only reused by a traced run of
    the same code."""
    h = hashlib.sha256()
    for top in CODE_DIRS:
        for dirpath, dirs, files in os.walk(os.path.join(ROOT, top)):
            dirs[:] = sorted(d for d in dirs if d != "__pycache__")
            for name in sorted(files):
                if name.endswith(".pyc"):
                    continue
                path = os.path.join(dirpath, name)
                h.update(os.path.relpath(path, ROOT).encode() + b"\0")
                with open(path, "rb") as f:
                    h.update(f.read())
                h.update(b"\0")
    return h.hexdigest()[:16]


def _cache_path(args, code: str) -> str:
    name = f"{args.workload}-seed{args.seed}-s{args.seconds}-{code}.json"
    return os.path.join(ROOT, ".bench_work", "results", name)


def _environment(work: str, cores: int) -> None:
    """Run hygiene, before pyspark starts the JVM."""
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    # the session default heap (16g) exceeds small hosts' RAM
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    # Spark's Python workers must import the package from the checkout
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def _spark_conf(work: str, trace: bool) -> dict:
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + log_dir,
                "spark.eventLog.compress": "false",
            }
        )
    return conf


def measure(args, work: str) -> dict:
    """Set up, warm up, drive and check one workload; the run record."""
    from opencypher_datalayer_spark.session import get_spark

    from perfbench import trace as tr
    from perfbench.workloads import WORKLOADS

    cores = os.cpu_count() or 1
    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", extra_conf=_spark_conf(work, args.trace))
    spark.range(1).count()
    session_s = time.perf_counter() - t0
    tracer = tr.Tracer(spark.sparkContext) if args.trace else tr.NullTracer()
    if args.trace:
        tr.install(tracer)
    wl = WORKLOADS[args.workload](spark, args.seed, work, tracer)

    builds = []
    for rep in range(wl.setup_reps):
        t = time.perf_counter()
        wl.setup(rep)
        builds.append(time.perf_counter() - t)
    tracer.phase = "warmup"
    t = time.perf_counter()
    wl.warmup()
    warmup_s = time.perf_counter() - t

    tracer.phase = "timed"
    # a fixed number of steps per run, sized to fill --seconds: a count
    # that depended on the clock would mix warmer and colder steps
    steps = max(wl.min_ops, round(args.seconds / wl.step_s))
    items = attempted = raised = 0
    errors: list[str] = []
    start = time.perf_counter()
    for _ in range(steps):
        attempted += 1
        try:
            items += wl.step()
        except Exception as exc:  # an op that raised counts as failed, the loop goes on
            raised += 1
            errors.append(f"{type(exc).__name__}: {exc}"[:300])
            if raised >= 3:
                break
    wall = time.perf_counter() - start

    tracer.phase = "check"
    mem = memory(spark)  # before the checks, which load their own models
    wrong = wl.check()
    attempted += len(wl.aux_s) + wl.extra_attempts()
    failed = raised + len(wrong)
    errors += wl.errors

    (p50_name, tail_name, op_unit, op_scale), aux_name, items_name = NAMES[args.workload]
    op_ms = steady_ms(wl.op_s)
    aux_ms = steady_ms(wl.aux_s)
    op_tail = tail(op_ms)
    aux_p50 = statistics.median(aux_ms) if aux_ms else float("nan")
    metrics = {
        "setup_s": session_s + statistics.median(builds),
        "op_ms_p50": statistics.median(op_ms) if op_ms else float("nan"),
        "peak_mem_mib": mem["peak_mem_mib"],
    }
    issue_names = {
        "setup_s": {"value": metrics["setup_s"], "unit": "s"},
        "failed_op_share": {"value": failed / max(1, attempted), "unit": "ratio"},
        "peak_mem_mib": {"value": metrics["peak_mem_mib"], "unit": "MiB"},
        "peak_rss_mib": {"value": mem["peak_rss_mib"], "unit": "MiB"},
        items_name: {"value": items / wall, "unit": wl.item_unit},
        p50_name: {"value": metrics["op_ms_p50"] * op_scale, "unit": op_unit, "n": len(op_ms)},
        tail_name: dict(op_tail, value=op_tail["value"] * op_scale, unit=op_unit),
        aux_name: {"value": aux_p50, "unit": "ms", "n": len(aux_ms)},
    }
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": int(args.trace),
        "clients": 1,
        "loop": "closed",
        "master": spark.sparkContext.master,
        "driver_memory": os.environ["SPARK_GRAFT_DRIVER_MEM"],
        "ops": len(wl.op_s),
        # each timed sample: (seconds, steal share of the host CPU meanwhile)
        "op_samples": wl.op_s,
        "aux_samples": wl.aux_s,
        "steal_max": STEAL_MAX,
        "timed_wall_s": wall,
        "session_start_s": session_s,
        "setup_builds_s": builds,
        "warmup_s": warmup_s,
        "metrics": issue_names,
        "errors": errors[:20],
        "memory": mem,
    }
    if args.workload == "uda_sync":
        record["fullsync_s"] = getattr(wl, "fullsync_s", None)
    if args.trace:
        spark.stop()  # flushes the event log
        groups = tr.read_eventlog(os.path.join(work, "eventlog"))
        idx = tr.SpanIndex(tracer.spans, groups)
        layers, absent = layer_metrics(wl, idx, session_s, wall, cores)
        os.makedirs(os.path.join(ROOT, ".bench_work", "traces"), exist_ok=True)
        tracer.dump(os.path.join(ROOT, ".bench_work", "traces", f"{args.workload}-seed{args.seed}.spans.jsonl"))
        record["absent"] = absent
        record["layers"] = layers
    else:
        spark.stop()
    record["own_cpu_ticks"] = cpu_ticks_of_tree()
    record["end_to_end"] = metrics
    record["attempted"] = attempted
    record["failed"] = failed
    return record


def layer_metrics(wl, idx, session_s: float, wall: float, cores: int) -> tuple[dict, dict]:
    timed_ops = [s for s in idx.spans if s["phase"] == "timed" and s["layer"] == "op"]
    n_ops = max(1, len(wl.op_s))
    m = {"session.start_s": session_s}
    m.update(wl.layer_metrics(idx))
    run_ms = idx.spark(timed_ops, "executor_run_ms")
    m["spark.busy_share"] = run_ms / (wall * 1000.0 * cores)
    m["spark.failed_tasks"] = sum(g.get("failed_tasks", 0) for g in idx.groups.values())
    selfs: dict = {}
    for s in idx.timed(op_name=wl.op_name):
        if s["layer"] != "op":
            selfs[s["layer"]] = selfs.get(s["layer"], 0.0) + idx.self_ms(s)
    for layer in SELF_LAYERS:
        if layer in selfs:
            m[f"self_ms_per_op.{layer}"] = selfs[layer] / n_ops
    absent = {}
    for name, _unit in PER_LAYER:
        if name.startswith("overhead."):
            continue
        if name not in m:
            absent[name] = f"the {wl.op_name} ops of this workload never call this layer"
            m[name] = 0.0
    return m, absent


def stop_jvm() -> None:
    """End the JVM this process launched and wait for it: its stdin
    closing is the gateway's signal to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is None or proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def untraced_reference(args, code: str) -> dict | None:
    """The untraced record for this workload, seed and code: from an
    earlier run in this checkout, else from a fresh untraced child run."""
    cache = _cache_path(args, code)
    if not os.path.exists(cache):
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
               "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"]
        try:
            proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL, timeout=100)
        except subprocess.TimeoutExpired:
            return None
        if proc.returncode != 0 or not os.path.exists(cache):
            return None
    with open(cache) as f:
        record = json.load(f)
    return record if record.get("code_id") == code else None


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(NAMES))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, default=4)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    cores = os.cpu_count() or 1
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    _environment(work, cores)
    try:
        import opencypher_datalayer_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the engine from {ROOT}: {exc}", file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        return 2

    code = code_id()
    reference = untraced_reference(args, code) if args.trace else None
    before = host_state()
    try:
        record = measure(args, work)
    finally:
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    after = host_state()
    record["code_id"] = code
    record["host"] = host_fingerprint()
    record["host_load"] = contention(before, after, record.pop("own_cpu_ticks"))

    e2e = record.pop("end_to_end")
    if args.trace:
        layers = record["layers"]
        for name, _unit, _better in END_TO_END:
            ref = (reference or {}).get("end_to_end", {}).get(name)
            layers[f"overhead.{name}"] = e2e[name] - ref if ref is not None else 0.0
            if ref is None:
                record["absent"][f"overhead.{name}"] = "no untraced run of this workload, seed and code completed"
        out = {name: {"value": layers[name], "unit": unit} for name, unit in PER_LAYER}
    else:
        out = {name: {"value": e2e[name], "unit": unit} for name, unit, _ in END_TO_END}
        cache = _cache_path(args, code)
        os.makedirs(os.path.dirname(cache), exist_ok=True)
        with open(cache, "w") as f:
            json.dump(dict(record, end_to_end=e2e), f)

    print(json.dumps(record, default=str))
    print(
        json.dumps(
            {
                "correct": record["failed"] == 0,
                "attempted": record["attempted"],
                "failed": record["failed"],
                "metrics": out,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
