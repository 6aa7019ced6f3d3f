"""Sync-and-serve benchmark for the engine in this checkout.

    python3 perfbench/run.py --workload sync_trickle --seed 1 \\
        --seconds 10 --trace 0

Each workload is one closed-loop client in one process, driving the
engine through its public functions on ``get_spark()``'s shipped
defaults; only ``SPARK_GRAFT_CPUS`` is set (to the CPUs this process
may use) and every other ``SPARK_GRAFT_*`` variable is cleared. Inputs
come from ``--seed`` alone. Set-up builds the inputs, loads and
bootstraps the stores and runs untimed warm-up ops; the timed phase
then runs whole rounds of ops until ``--seconds`` have passed.

With ``--trace 0`` it reports end-to-end metrics: ``setup_s`` (process
start to the first timed op) and the exact Spark cost of an op,
``jobs_per_op`` and ``tasks_per_op``. The op latency (sync lag or
request latency) as a median and a tail, throughput, stages and bytes
written are printed beside them but not reported: on a shared host
wall time moves by up to 1.8x within minutes, more than any useful
regression bound, while the counts repeat exactly. With ``--trace 1`` it reports per-layer metrics
from spans recorded around every call into a layer, on alternate
rounds, so the untraced rounds in between give the tracing overhead.
Every op is checked; the last line of stdout is one JSON object, and
the exit code is 1 when any check failed.

Everything the run writes goes under ``.perfbench/`` in the checkout:
a work directory (stores, Spark local and warehouse dirs, JVM temp
files) removed when the run ends, and a record of the run with its
spans, kept.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
from dataclasses import dataclass  # noqa: E402

from counters import FileCost, JobCounter, SparkCost, file_cost, snapshot  # noqa: E402
from spans import Tracer  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)
OUT_DIR = os.path.join(CHECKOUT, ".perfbench")
WORKLOADS = ("sync_trickle", "client_reads")
# A tail is the highest percentile with at least this many samples
# above it.
TAIL_SAMPLES = 10


def calibration_seconds() -> float:
    """A fixed pure-Python loop: tells a slow host from a regression."""
    t = time.perf_counter()
    x = 0
    for i in range(3_000_000):
        x += i * i % 7
    return time.perf_counter() - t


def tail(values: list[float]) -> tuple[float, float] | None:
    """(percentile, value) with TAIL_SAMPLES samples above it."""
    n = len(values)
    if n <= TAIL_SAMPLES:
        return None
    return 100.0 * (n - TAIL_SAMPLES) / n, sorted(values)[n - TAIL_SAMPLES - 1]


def prepare_environment(work: str) -> None:
    """Point every scratch directory into ``work`` and leave the
    library's tuning knobs at their shipped defaults."""
    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[k]
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    jtmp = os.path.join(work, "jvm_tmp")
    os.makedirs(jtmp)
    os.environ["TMPDIR"] = work
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark_local")
    tempfile.tempdir = None
    # Every JVM (spark-submit's launcher and Spark's own): temp files
    # under work, and no hsperfdata file, which HotSpot puts in /tmp.
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={jtmp}"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
        "pyspark-shell")


def remove_stale_work_dirs() -> None:
    """Work dirs of runs that were killed before their cleanup ran."""
    if not os.path.isdir(OUT_DIR):
        return
    for name in os.listdir(OUT_DIR):
        if not name.startswith("work-"):
            continue
        pid = int(name.split("-")[1])
        try:
            os.kill(pid, 0)
        except ProcessLookupError:
            shutil.rmtree(os.path.join(OUT_DIR, name), ignore_errors=True)


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers it started) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


@dataclass
class OpRecord:
    index: int
    timed: bool
    traced: bool
    seconds: float
    cost: SparkCost
    files: FileCost
    shipped: int
    errors: list[str]


def run_op(workload, i: int, timed: bool, traced: bool, jobs: JobCounter,
           tracer: Tracer) -> OpRecord:
    """One op: its inputs are made and its outputs checked outside
    the timed window, and so are its job and file counts."""
    p = workload.prepare(i)
    files0 = snapshot(workload.roots)
    tracer.op = i
    tracer.enabled = traced
    with tracer.span("op"):
        first = jobs.mark()
        t0 = time.perf_counter()
        out = workload.execute(p)
        seconds = time.perf_counter() - t0
        end = jobs.mark()
    tracer.enabled = False
    cost = jobs.cost(first, end)
    files = file_cost(files0, snapshot(workload.roots))
    errors = workload.check(i, p, out)
    return OpRecord(i, timed, traced, seconds, cost, files,
                    out.get("shipped", 0), errors)


@dataclass
class Run:
    setup_s: float
    ops: list[OpRecord]
    env: dict
    mix: int                 # op types per round
    end_checks: int          # whole-run checks after the timed phase
    end_errors: list[str]
    tracer: Tracer

    @property
    def timed(self) -> list[OpRecord]:
        return [op for op in self.ops if op.timed]


def run(name: str, seed: int, seconds: float, trace: bool,
        work: str) -> Run:
    """Set up, warm up, time, check."""
    from cassandra_elasticsearch_sync_spark.session import get_spark

    from client_reads import ClientReads
    from sync_trickle import SyncTrickle

    cls = {"sync_trickle": SyncTrickle, "client_reads": ClientReads}[name]
    env = {"nproc": len(os.sched_getaffinity(0)),
           "loadavg_start": os.getloadavg()[0]}
    spark = get_spark()
    try:
        spark.sparkContext.setLogLevel("ERROR")
        jobs = JobCounter(spark)
        tracer = Tracer(jobs, enabled=trace)
        workload = cls(spark, work, seed, tracer)
        workload.setup()
        ops: list[OpRecord] = []

        def one_round(timed: bool) -> None:
            mix = workload.ops_per_round
            first = len(ops)
            # whole rounds alternate, so every request type of a mix
            # is traced as often as it runs untraced
            traced = timed and trace and (first // mix) % 2 == 1
            for i in range(first, first + mix):
                ops.append(run_op(workload, i, timed, traced, jobs, tracer))

        for _ in range(workload.warmup_rounds):
            one_round(timed=False)
        setup_s = time.perf_counter() - PROCESS_START
        deadline = time.perf_counter() + seconds
        while True:
            one_round(timed=True)
            if time.perf_counter() >= deadline:
                break
        env["calibration_s"] = calibration_seconds()
        late = workload.finish()
        env["loadavg_end"] = os.getloadavg()[0]
        by_index = {op.index: op for op in ops}
        end_errors = []
        for index, msg in late:
            if index is None:
                end_errors.append(msg)
            else:
                by_index[index].errors.append(msg)
        return Run(setup_s, ops, env, workload.ops_per_round,
                   workload.end_checks, end_errors, tracer)
    finally:
        stop_spark(spark)


def line(name: str, value, unit: str, note: str = "") -> str:
    v = f"{value:.6g}" if isinstance(value, float) else str(value)
    return f"{name:<20}{v} {unit}" + (f"  ({note})" if note else "")


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def per_type_medians(ops: list[OpRecord], mix: int) -> list[float]:
    """Median latency of each op type of a mix of ``mix`` types."""
    return [median([op.seconds for op in ops if op.index % mix == k])
            for k in range(mix)]


def typical_latency(ops: list[OpRecord], mix: int) -> float:
    """The mean over op types of each type's median. A mix's request
    types differ several-fold in latency, so the median of all its
    requests would jump between types as their counts shift."""
    return statistics.fmean(per_type_medians(ops, mix))


def end_to_end(r: Run, name: str) -> tuple[dict, list[str]]:
    timed = r.timed
    lat = [op.seconds for op in timed]
    n = len(timed)
    per_type = per_type_medians(timed, r.mix)
    latency = typical_latency(timed, r.mix)
    metrics = {
        "setup_s": (r.setup_s, "s"),
        "jobs_per_op": (sum(op.cost.jobs for op in timed) / n, "jobs"),
        "tasks_per_op": (sum(op.cost.tasks for op in timed) / n, "tasks"),
    }
    kind = "lag" if name.startswith("sync") else "request"
    t = tail(lat)
    lines = [
        line("setup_s", r.setup_s, "s"),
        line(f"{kind}_s", latency, "s",
             f"median of {n} ops" if len(per_type) == 1 else
             "mean of the per-type medians "
             + ", ".join(f"{v:.4f}" for v in per_type) + f" of {n} ops"),
        line(f"{kind}_tail_s", t[1], "s", f"p{t[0]:.1f} of {n} ops") if t
        else line(f"{kind}_tail_s", "n/a", "",
                  f"{n} ops; a tail needs more than {TAIL_SAMPLES}"),
        line("ops_per_s", n / sum(lat), "1/s"),
        line("jobs_per_op", metrics["jobs_per_op"][0], "jobs"),
        line("stages_per_op", sum(op.cost.stages for op in timed) / n,
             "stages"),
        line("tasks_per_op", metrics["tasks_per_op"][0], "tasks"),
    ]
    if name.startswith("sync"):
        mb = sum(op.files.mb_written for op in timed) / n
        lines.append(line("mb_written_per_op", mb, "MB"))
    return metrics, lines


def per_layer(r: Run) -> tuple[dict, list[str]]:
    tracer, timed = r.tracer, r.timed
    own = tracer.self_seconds()
    traced = [op for op in timed if op.traced]
    plain = [op for op in timed if not op.traced]
    ids = {op.index for op in traced}

    per_op: dict[int, dict[str, float]] = {i: {} for i in ids}
    setup: dict[str, float] = {}

    def add(d, key, v):
        d[key] = d.get(key, 0.0) + v

    for k, s in enumerate(tracer.spans):
        if s.op is None:
            add(setup, s.name, s.seconds)
            continue
        if s.op not in ids:
            continue
        d = per_op[s.op]
        add(d, s.name + ".s", s.seconds)
        add(d, s.name + ".jobs", s.jobs)
        add(d, s.name + ".mb", s.bytes_written / 1e6)
        add(d, s.name + ".files", s.files_written)
        add(d, s.name.split(".")[0] + ".self_s", own[k])

    def med(key: str) -> float:
        """Median over the traced ops that ran this layer."""
        return median([d[key] for d in per_op.values() if key in d])

    def opmed(f) -> float:
        return median([f(op) for op in timed])

    layers = ["cql_write", "es_write", "acid", "engine", "es_query",
              "cql_query", "op"]
    m = {
        "cql_write.apply_s": (med("cql_write.apply.s"), "s"),
        "cql_write.jobs": (med("cql_write.apply.jobs"), "jobs"),
        "cql_write.mb_written": (med("cql_write.apply.mb"), "MB"),
        "es_write.ubq_s": (med("es_write.ubq.s"), "s"),
        "es_write.jobs": (med("es_write.ubq.jobs"), "jobs"),
        "es_write.mb_written": (med("es_write.ubq.mb"), "MB"),
        "acid.update_where_s": (med("acid.update_where.s"), "s"),
        "acid.update_where.jobs": (med("acid.update_where.jobs"), "jobs"),
        "acid.apply_delta_s": (med("acid.apply_delta.s"), "s"),
        "acid.apply_delta.jobs": (med("acid.apply_delta.jobs"), "jobs"),
        "acid.apply_delta.mb_written": (med("acid.apply_delta.mb"), "MB"),
        "acid.apply_delta.files_written":
            (med("acid.apply_delta.files"), "count"),
        "acid.read_since_s": (med("acid.read_since.s"), "s"),
        "acid.commits_per_op": (opmed(lambda op: op.files.commits), "count"),
        "engine.cycle_s": (med("engine.cycle.s"), "s"),
        "engine.cycle.jobs": (med("engine.cycle.jobs"), "jobs"),
        "engine.rows_shipped": (opmed(lambda op: op.shipped), "count"),
        "engine.full_sync_s": (setup.get("engine.full_sync", 0.0), "s"),
        "es_query.build_s": (med("es_query.build.s"), "s"),
        "es_query.plan_s": (med("es_query.plan.s"), "s"),
        "es_query.exec_s": (med("es_query.exec.s"), "s"),
        "es_query.jobs": (sum(med(f"es_query.{p}.jobs")
                              for p in ("build", "plan", "exec")), "jobs"),
        "cql_query.parse_s": (med("cql_query.parse.s"), "s"),
        "cql_query.build_s": (med("cql_query.build.s"), "s"),
        "cql_query.plan_s": (med("cql_query.plan.s"), "s"),
        "cql_query.exec_s": (med("cql_query.exec.s"), "s"),
        "cql_query.jobs": (sum(med(f"cql_query.{p}.jobs")
                               for p in ("parse", "build", "plan", "exec")),
                           "jobs"),
        "readers.load_s": (setup.get("readers.load", 0.0), "s"),
        "spark.stages_per_op": (opmed(lambda op: op.cost.stages), "stages"),
        "spark.tasks_per_op": (opmed(lambda op: op.cost.tasks), "tasks"),
        "mb_written_per_op": (opmed(lambda op: op.files.mb_written), "MB"),
    }
    for layer in layers:
        m[f"{layer}.self_s"] = (med(f"{layer}.self_s"), "s")
    traced_lat = typical_latency(traced, r.mix)
    plain_lat = typical_latency(plain, r.mix)
    m["trace.overhead_s"] = (traced_lat - plain_lat, "s")
    m["latency_s"] = (plain_lat, "s")
    in_layers = median([sum(v for k, v in d.items()
                            if k.endswith(".self_s") and k != "op.self_s")
                        for d in per_op.values()])
    lines = [f"traced ops {len(traced)}: latency {traced_lat:.4f} s, of "
             f"which {in_layers:.4f} s inside layer calls (median); "
             f"untraced ops {len(plain)}: latency {plain_lat:.4f} s",
             "layer self time, median per traced op that ran it:"]
    lines += [line(f"  {layer}.self_s", m[f"{layer}.self_s"][0], "s")
              for layer in layers]
    return m, lines


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a killed run still stops the JVM and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    sys.path.insert(0, CHECKOUT)
    os.makedirs(OUT_DIR, exist_ok=True)
    remove_stale_work_dirs()
    work = tempfile.mkdtemp(prefix=f"work-{os.getpid()}-", dir=OUT_DIR)
    try:
        prepare_environment(work)
        r = run(args.workload, args.seed, args.seconds, bool(args.trace),
                work)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    ops = r.ops
    failed = sum(1 for op in ops if op.errors) + (1 if r.end_errors else 0)
    attempted = len(ops) + r.end_checks
    if args.trace:
        metrics, lines = per_layer(r)
    else:
        metrics, lines = end_to_end(r, args.workload)
    lines.append(line("error_rate", failed / attempted, "ratio",
                      f"{failed} failed of {attempted} ops and checks, "
                      "warm-up included"))

    record = {"workload": args.workload, "seed": args.seed,
              "seconds": args.seconds, "trace": args.trace, "env": r.env,
              "ops": [{"index": op.index, "timed": op.timed,
                       "traced": op.traced, "seconds": op.seconds,
                       "jobs": op.cost.jobs, "stages": op.cost.stages,
                       "tasks": op.cost.tasks,
                       "bytes_written": op.files.bytes_written,
                       "errors": op.errors} for op in ops],
              "end_errors": r.end_errors}
    path = os.path.join(OUT_DIR, f"{args.workload}-seed{args.seed}"
                                 f"-trace{args.trace}.json")
    if args.trace:
        r.tracer.write(path, record)
    else:
        with open(path, "w") as fh:
            json.dump(record, fh)

    print(f"workload {args.workload}  seed {args.seed}  "
          f"seconds {args.seconds:g}  trace {args.trace}")
    print("env " + "  ".join(f"{k}={v:.3f}" if isinstance(v, float)
                             else f"{k}={v}" for k, v in r.env.items()))
    for text in lines:
        print(text)
    for op in ops:
        for e in op.errors:
            print(f"FAILED op {op.index}: {e}")
    for e in r.end_errors:
        print(f"FAILED end check: {e}")
    print(f"record {os.path.relpath(path, CHECKOUT)}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
