"""Benchmark entry point.

    python3 perfbench/run.py --workload interactive_mix --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --all --seed 1 --seconds 20

One workload per process. The last line of stdout is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``. Lines
before it are for people: every metric by name and unit, the workload's
own figures, the pinned environment and any op that failed.

``--all`` runs every workload untraced and traced, each in its own fresh
process, and prints both sets of metrics plus the tracing overhead
(traced minus untraced end-to-end figures).

All inputs are generated from ``--seed``; every file a run writes (corpus,
oracle cache, ANN index, Spark scratch) lives under ``.perfbench_work/``
in the directory the command is run from.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
from statistics import geometric_mean, median  # noqa: E402

from spans import tail  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))

# (name, unit) — printed for every workload with --trace 0
END_TO_END = (
    ("setup_s", "s"),
    ("op_geomean_s", "s"),
    ("ops_per_min", "1/min"),
)

# (name, unit) — printed for every workload with --trace 1. Per-call
# figures are means over the layer's spans; a layer a workload does not
# reach reads 0.
PER_LAYER = (
    ("session.get_spark_s", "s"),
    ("catalog.load_tables_s", "s"),
    ("catalog.cache_hit_ratio", "ratio"),
    ("plans.build_s", "s"),
    ("plans.build_jobs", "count"),
    ("execute.action_s", "s"),
    ("execute.jobs", "count"),
    ("execute.tasks", "count"),
    ("execute.gc_s", "s"),
    ("execute.busy_ratio", "ratio"),
    ("execute.input_bytes", "bytes"),
    ("execute.shuffle_write_bytes", "bytes"),
    ("execute.shuffle_read_bytes", "bytes"),
    ("execute.spill_bytes", "bytes"),
    ("execute.failed_tasks", "count"),
    ("operators.graph.wall_s", "s"),
    ("operators.graph.jobs", "count"),
    ("operators.graph.shuffle_write_bytes", "bytes"),
    ("operators.dedup.wall_s", "s"),
    ("operators.dedup.shuffle_write_bytes", "bytes"),
    ("operators.dedup.verified_per_candidate", "ratio"),
    ("operators.similarity.wall_s", "s"),
    ("operators.similarity.shuffle_write_bytes", "bytes"),
    ("sources.ann_index.build_s", "s"),
    ("sources.ann_index.serve_s", "s"),
    ("sources.ann_index.serve_jobs", "count"),
    ("sources.ann_index.serve_input_bytes", "bytes"),
    ("sources.ann_index.input_records_per_result", "ratio"),
    ("streaming.layered.insert_s", "s"),
    ("streaming.layered.output_bytes_per_row", "bytes"),
    ("streaming.layered.accepted_per_offered", "ratio"),
    ("sources.merge.upsert_s", "s"),
    ("sources.merge.output_bytes_per_input_byte", "ratio"),
    ("trace.overhead_s", "s"),
    ("trace.evicted_stages", "count"),
)

WORKLOAD_NAMES = ("interactive_mix", "corpus_pipeline")


def driver_mem() -> str:
    """The driver heap: the machine's memory (or the cgroup's limit, if
    lower) less 4 GB for the OS, the Python driver and the page cache,
    capped at the engine's 48g default."""
    with open("/proc/meminfo") as fh:
        total = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
    total <<= 10
    try:
        with open("/sys/fs/cgroup/memory.max") as fh:
            total = min(total, int(fh.read()))
    except (OSError, ValueError):  # no cgroup v2 limit ("max")
        pass
    return f"{min(48, max(1, (total >> 30) - 4))}g"


def pin_env(work: str) -> dict:
    """Fix the engine's environment for this machine and keep every file
    Spark, the JVM and Python write under ``work``."""
    cpus = len(os.sched_getaffinity(0))
    mem = driver_mem()
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": mem,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "PYSPARK_SUBMIT_ARGS": (
            f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData" '
            f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
            "--conf spark.ui.showConsoleProgress=false pyspark-shell"
        ),
    }
    os.environ.update(env)
    return env


def jvm_proc():
    from pyspark import SparkContext

    gw = SparkContext._gateway
    return getattr(gw, "proc", None) if gw is not None else None


def peak_rss_mb(info: dict) -> float:
    """Driver JVM VmHWM plus this process's peak resident set, in MB;
    the two parts go into ``info``."""
    jvm_kb = 0
    proc = jvm_proc()
    if proc is not None:
        with open(f"/proc/{proc.pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    info["jvm_hwm_mb"], info["python_maxrss_mb"] = jvm_kb / 1024, py_kb / 1024
    return (jvm_kb + py_kb) / 1024


def steal_s() -> float:
    """CPU time the hypervisor gave to others while this machine's vCPUs
    were runnable, summed over vCPUs since boot (0 on bare metal)."""
    with open("/proc/stat") as fh:
        f = fh.readline().split()
    return int(f[8]) / os.sysconf("SC_CLK_TCK")


def stop_engine(run) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    proc = jvm_proc() if run.spark is not None else None
    if run.spark is not None:
        run.spark.stop()
    if proc is not None:
        from pyspark import SparkContext

        SparkContext._gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        proc.wait(timeout=60)


def end_to_end(run) -> dict[str, float]:
    dts = [dt for _, dt in run.samples]
    return {
        "setup_s": run.info["setup_s"],
        "op_geomean_s": geometric_mean(dts),
        "ops_per_min": 60 * len(dts) / run.info["wall_s"],
    }


def workload_figures(run, rss_mb: float) -> dict[str, float]:
    """The workload's own end-to-end figures, by their workload names.
    A tail comes with its percentile and sample count."""
    from workloads import ANN_READS, INSERT_ROWS, INTERACTIVE_QUERIES

    def dts(names):
        return [dt for name, dt in run.samples if name in names]

    out = {"error_rate": run.tally.error_rate, "peak_rss_mb": rss_mb}
    if run.workload == "corpus_pipeline":
        out["docs_per_s"] = run.info["docs"] / median(dts({"pass"}))
        return out
    queries, reads = dts(INTERACTIVE_QUERIES), dts(ANN_READS)
    inserts = dts({"insert"})
    out["queries_per_min"] = 60 * len(queries) / sum(queries)
    out["query_p50_s"] = median(queries)
    value, pct, n = tail(queries)
    out.update(query_tail_s=value, query_tail_pct=pct, query_samples=n)
    out["index_build_s"] = run.info["index_build_s"]
    out["serve_p50_s"] = median(reads)
    value, pct, n = tail(reads)
    out.update(serve_tail_s=value, serve_tail_pct=pct, serve_samples=n)
    out["insert_rows_per_s"] = INSERT_ROWS * len(inserts) / sum(inserts)
    return out


def per_layer(run) -> dict[str, float]:
    """Per-layer figures from the run's spans (see PER_LAYER)."""
    tr = run.tracer
    cpus = int(os.environ["SPARK_GRAFT_CPUS"])

    def spans(name):
        return tr.by_name(name)

    def mean(xs):
        xs = list(xs)
        return sum(xs) / len(xs) if xs else 0.0

    def per_call(name, key):
        return mean(s.counters.get(key, 0) for s in spans(name))

    def total(name, key):
        return sum(s.counters.get(key, 0) for s in spans(name))

    def ratio(a, b):
        return a / b if b else 0.0

    ex = spans("execute")
    ops = len(run.samples)
    c = run.counts
    return {
        "session.get_spark_s": mean(s.duration for s in spans("session")),
        "catalog.load_tables_s": mean(s.duration for s in spans("catalog")),
        "catalog.cache_hit_ratio": ratio(run.catalog_hits, run.catalog_calls),
        "plans.build_s": mean(tr.self_time(s) for s in spans("plans")),
        "plans.build_jobs": per_call("plans", "jobs"),
        "execute.action_s": mean(s.duration for s in ex),
        "execute.jobs": per_call("execute", "jobs"),
        "execute.tasks": per_call("execute", "tasks"),
        "execute.gc_s": per_call("execute", "gc_ms") / 1000,
        "execute.busy_ratio": ratio(
            total("execute", "run_ms") / 1000,
            sum(s.duration for s in ex) * cpus,
        ),
        "execute.input_bytes": per_call("execute", "input_bytes"),
        "execute.shuffle_write_bytes": per_call("execute", "shuffle_write_bytes"),
        "execute.shuffle_read_bytes": per_call("execute", "shuffle_read_bytes"),
        "execute.spill_bytes": per_call("execute", "spill_bytes"),
        "execute.failed_tasks": total("execute", "failed_tasks"),
        "operators.graph.wall_s": mean(s.duration for s in spans("operators.graph")),
        "operators.graph.jobs": per_call("operators.graph", "jobs"),
        "operators.graph.shuffle_write_bytes": per_call(
            "operators.graph", "shuffle_write_bytes"
        ),
        "operators.dedup.wall_s": mean(s.duration for s in spans("operators.dedup")),
        "operators.dedup.shuffle_write_bytes": per_call(
            "operators.dedup", "shuffle_write_bytes"
        ),
        "operators.dedup.verified_per_candidate": ratio(
            c.get("dedup_verified", 0), c.get("dedup_candidates", 0)
        ),
        "operators.similarity.wall_s": mean(
            s.duration for s in spans("operators.similarity")
        ),
        "operators.similarity.shuffle_write_bytes": per_call(
            "operators.similarity", "shuffle_write_bytes"
        ),
        "sources.ann_index.build_s": mean(
            s.duration for s in spans("sources.ann_index.build")
        ),
        "sources.ann_index.serve_s": mean(
            s.duration for s in spans("sources.ann_index.serve")
        ),
        "sources.ann_index.serve_jobs": per_call("sources.ann_index.serve", "jobs"),
        "sources.ann_index.serve_input_bytes": per_call(
            "sources.ann_index.serve", "input_bytes"
        ),
        "sources.ann_index.input_records_per_result": ratio(
            total("sources.ann_index.serve", "input_records"),
            c.get("serve_results", 0),
        ),
        "streaming.layered.insert_s": mean(
            s.duration for s in spans("streaming.layered")
        ),
        "streaming.layered.output_bytes_per_row": ratio(
            total("streaming.layered", "output_bytes"), c.get("accepted", 0)
        ),
        "streaming.layered.accepted_per_offered": ratio(
            c.get("accepted", 0), c.get("offered", 0)
        ),
        "sources.merge.upsert_s": mean(s.duration for s in spans("sources.merge")),
        "sources.merge.output_bytes_per_input_byte": ratio(
            total("sources.merge", "output_bytes"),
            total("sources.merge", "input_bytes"),
        ),
        "trace.overhead_s": ratio(tr.overhead_s, ops),
        "trace.evicted_stages": tr.evicted_stages,
    }


def run_one(args) -> int:
    root = os.path.dirname(HERE)
    work = os.path.join(root, ".perfbench_work")
    env = pin_env(work)
    sys.path.insert(0, root)
    from spans import Tracer
    from workloads import WORKLOADS, Run, prepare

    run = Run(
        workload=args.workload, seed=args.seed, seconds=args.seconds,
        tracer=Tracer(args.trace == 1), work=work,
    )
    if args.prepare:
        prepare(run)
        return 0
    # inputs and expected outputs are made in a child process, so this
    # one's memory and set-up time do not depend on the oracle cache
    t0 = time.perf_counter()
    subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--prepare",
         "--workload", args.workload, "--seed", str(args.seed)],
        check=True, stdout=sys.stderr,
    )
    run.info["prepare_s"] = time.perf_counter() - t0
    run.t0 = time.perf_counter()
    steal0 = steal_s()
    try:
        WORKLOADS[args.workload](run)
        rss = peak_rss_mb(run.info)
        run.info["steal_s"] = steal_s() - steal0
    finally:
        stop_engine(run)
    e2e = end_to_end(run)
    figures = workload_figures(run, rss)
    units = dict(END_TO_END)
    if args.trace:
        metrics, units = per_layer(run), dict(PER_LAYER)
    else:
        metrics = e2e
    for name, value in metrics.items():
        print(f"{args.workload} {name} {value!r} {units[name]}")
    for err in run.tally.errors:
        print(f"# failed: {err}")
    print("# env " + json.dumps(env, sort_keys=True))
    print("# figures " + json.dumps(figures, sort_keys=True))
    print("# e2e " + json.dumps(e2e, sort_keys=True))
    print("# samples " + json.dumps(run.samples))
    run.info["total_s"] = time.perf_counter() - T_START
    print("# info " + json.dumps(run.info, sort_keys=True, default=str))
    print(json.dumps({
        "correct": run.tally.failed == 0,
        "attempted": run.tally.attempted,
        "failed": run.tally.failed,
        "metrics": {
            k: {"value": v, "unit": units[k]} for k, v in metrics.items()
        },
    }), flush=True)
    return 0


def _tagged(stdout: str, tag: str) -> dict:
    for line in stdout.splitlines():
        if line.startswith(f"# {tag} "):
            return json.loads(line[len(tag) + 3:])
    raise RuntimeError(f"no '# {tag}' line in output")


def run_all(args) -> int:
    """Every workload untraced then traced, each in a fresh process."""
    status = 0
    for w in WORKLOAD_NAMES:
        outs = {}
        for trace in (0, 1):
            cmd = [
                sys.executable, os.path.abspath(__file__), "--workload", w,
                "--seed", str(args.seed), "--seconds", str(args.seconds),
                "--trace", str(trace),
            ]
            p = subprocess.run(cmd, capture_output=True, text=True)
            if p.returncode:
                sys.stderr.write(p.stderr[-4000:])
                status = p.returncode
                break
            outs[trace] = p.stdout
        if len(outs) < 2:
            continue
        plain, traced = (_tagged(outs[t], "e2e") for t in (0, 1))
        last = {t: json.loads(outs[t].splitlines()[-1]) for t in (0, 1)}
        print(f"== {w}: correct={last[0]['correct'] and last[1]['correct']}")
        for name, unit in END_TO_END:
            print(f"{w} {name} {plain[name]!r} {unit}"
                  f"  (traced {traced[name]!r}, overhead "
                  f"{traced[name] - plain[name]!r})")
        for k, v in _tagged(outs[0], "figures").items():
            print(f"{w} figure {k} {v!r}")
        for name, unit in PER_LAYER:
            print(f"{w} {name} {last[1]['metrics'][name]['value']!r} {unit}")
    return status


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--all", action="store_true")
    ap.add_argument("--prepare", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args()
    if args.all:
        return run_all(args)
    if args.workload is None:
        ap.error("--workload is required without --all")
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
