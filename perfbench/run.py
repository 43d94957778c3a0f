"""Benchmark entry point: one workload, one seed, one run.

    python3 perfbench/run.py --workload dag_build --seed 1 --seconds 6 --trace 0

Prints the run's metrics as the last line of standard output, one JSON
object with the keys ``correct``, ``attempted``, ``failed`` and
``metrics``. ``--trace 0`` reports the end-to-end metrics of
BENCHMARK.json, ``--trace 1`` the per-layer ones. The full record (host
fingerprint, input sizes, every set-up and iteration with its JVM and
host probes, spans, the event-log fold) is written to
``.perfbench/records/`` under the checkout. See perfbench/README.md for
what each metric measures and why each workload exists.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH = Path(__file__).resolve().parent

# JVM launches per run; setup_s is their median
SETUPS = 2


def start_session(workload, conf: dict):
    """Launch the JVM and a session, and run one job. Returns the session,
    the seconds ``get_spark`` took and the seconds to the first finished
    job."""
    from furchild_spark.engine.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name=f"perfbench_{workload.name}", extra_conf=conf)
    t1 = time.perf_counter()
    spark.range(1).count()
    return spark, t1 - t0, time.perf_counter() - t0


def stop_jvm(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _isolate(work: Path) -> None:
    """Keep Spark's and Python's scratch files (shuffle, block manager,
    JVM and Python temp dirs) inside the run's work directory."""
    import tempfile

    for d in ("local", "tmp"):
        (work / d).mkdir()
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["TMPDIR"] = tempfile.tempdir = str(work / "tmp")
    # every JVM, the spark-submit launcher too; -XX:-UsePerfData: no
    # hsperfdata file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        os.environ.get("JAVA_TOOL_OPTIONS", "")
        + f" -Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData").strip()


def _failure() -> dict:
    return {"attempted": 1, "failed": 1, "error": traceback.format_exc()}


def run(args, work: Path) -> dict:
    import probes
    from spans import Tracer, fold_event_log
    from workloads import WORKLOADS

    traced = bool(args.trace)
    record: dict = {"workload": args.workload, "seed": args.seed,
                    "seconds": args.seconds, "trace": traced,
                    "scale": args.scale}
    record["host"] = probes.fingerprint()
    _isolate(work)
    wl = WORKLOADS[args.workload](work, args.seed, args.scale)
    wl.traced = traced
    t_gen = time.perf_counter()
    record["inputs"] = wl.generate()
    gen_s = time.perf_counter() - t_gen

    conf = {"spark.sql.warehouse.dir": str(work / "spark-warehouse")}
    if traced:
        (work / "eventlog").mkdir()
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": (work / "eventlog").as_uri(),
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})

    # set-up: each launches a JVM and runs its first job; all but the last
    # JVM are stopped and waited for, the last one runs the iterations
    setups, sessions = [], []
    for k in range(SETUPS):
        spark, session_s, setup_s = start_session(wl, conf)
        sessions.append(session_s)
        setups.append(setup_s)
        if k < SETUPS - 1:
            stop_jvm(spark)
    record["setup"] = {"gen_s": gen_s, "session_s": sessions,
                       "setup_s": setups}
    iters: list[dict] = []
    try:
        sc = spark.sparkContext
        record["host"].update({
            "master": sc.master, "default_parallelism": sc.defaultParallelism,
            "driver_memory": sc.getConf().get("spark.driver.memory", None),
            "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        })
        tracer = Tracer(sc, traced)
        jvm = probes.JvmProbe(spark)

        def iterate(kind: str) -> None:
            i = len(iters)
            tracer.enabled = traced and kind in ("cold", "traced")
            region = probes.Region(jvm)
            with tracer.span("iteration", str(i)) as root:
                try:
                    res = wl.iteration(spark, i, tracer, region)
                except Exception:
                    res = _failure()
            res.update(kind=kind, span=root["id"] if root else None,
                       wall=region.wall, probes=region.probes)
            iters.append(res)
            tracer.enabled = traced

        # a fixed number of untimed warm-up iterations, then timed ones
        # until they add up to --seconds, and at least min_timed of them;
        # a traced run alternates traced and untraced timed iterations
        iterate("cold")
        wl.after_cold(spark)
        for _ in range(wl.warmup):
            iterate("warmup")
        while True:
            timed = [it for it in iters if it["kind"] in ("timed", "traced")]
            # a failed iteration may have no wall, so it ends the loop
            if iters[-1].get("error") or (
                    len(timed) >= wl.min_timed
                    and sum(it["wall"] for it in timed) >= args.seconds):
                break
            iterate("traced" if traced and not len(timed) % 2 else "timed")
        from pyspark import SparkContext

        record["peak_rss_mb"] = (probes.hwm_mb(os.getpid())
                                 + probes.hwm_mb(SparkContext._gateway.proc.pid))
        app_id = sc.applicationId
    finally:
        stop_jvm(spark)

    attempted = sum(it["attempted"] for it in iters)
    failed = sum(it["failed"] for it in iters)
    correct = failed == 0
    record["iterations"] = iters
    metrics = {}
    try:
        if traced:
            fold = fold_event_log(str(work / "eventlog" / app_id))
            record["event_log"] = fold
            record["spans"] = tracer.spans
            metrics = per_layer(wl, tracer, iters, fold, record)
        else:
            metrics = end_to_end(iters, record)
    except Exception:
        # a failed iteration leaves nothing to take a metric from; the
        # run reports itself incorrect rather than dropping the failure
        record["metrics_error"] = traceback.format_exc()
        correct = False
    return {"correct": correct, "attempted": attempted, "failed": failed,
            "metrics": metrics, "record": record}


def end_to_end(iters: list[dict], record: dict) -> dict:
    timed = [it for it in iters if it["kind"] == "timed"]
    return {
        "setup_s": statistics.median(record["setup"]["setup_s"]),
        "first_iter_s": iters[0]["wall"],
        "iter_s": statistics.median(it["wall"] for it in timed),
        "cpu_s": statistics.median(it["probes"]["cpu_s"] for it in timed),
    }


# top-level layers (spans directly under an iteration) that run Spark jobs
# in these workloads, and the fields reported for each (only
# engine.registry.run writes, so its output is spark.bytes_written_mb)
SPARK_LAYERS = ("engine.registry.run", "engine.checks.freshness",
                "engine.checks.run_checks", "queries.exec")
LAYER_FIELDS = ("jobs", "stages", "tasks", "task_cpu_s", "shuffle_write_mb")


def per_layer(wl, tracer, iters: list[dict], fold: dict, record: dict) -> dict:
    """Per-layer figures: means per traced timed iteration, plus the
    tracing overhead, i.e. traced minus untraced timed iteration median,
    both in this session (with the event log on for both)."""
    from spans import FIELDS, duration, self_time
    from workloads import headline

    traced = [it for it in iters if it["kind"] == "traced"]
    untraced = [it for it in iters if it["kind"] == "timed"]
    timed = traced + untraced
    n = len(traced)
    roots = {it["span"] for it in traced}
    wall = sum(it["wall"] for it in traced)
    cores = int(record["host"]["default_parallelism"])

    # fold job groups into the workload total and the top-level layer
    # (the span directly under an iteration), traced timed iterations only
    total = dict.fromkeys(FIELDS, 0.0)
    by_layer: dict[str, dict] = {}
    for group, stats in fold.items():
        chain = tracer.chain(group)
        if not chain or chain[-1]["id"] not in roots:
            continue
        layer = chain[-2]["name"] if len(chain) > 1 else "iteration"
        acc = by_layer.setdefault(layer, dict.fromkeys(FIELDS, 0.0))
        for k in FIELDS:
            total[k] += stats[k]
            acc[k] += stats[k]

    def spans_of(roots_: set[str]) -> list[dict]:
        return [s for s in tracer.spans
                if tracer.chain(s["id"])[-1]["id"] in roots_]

    warm_spans = spans_of(roots)
    cold_spans = spans_of({iters[0]["span"]})

    def secs(name: str, tag: str | None = None, spans=warm_spans, per=n) -> float:
        return sum(duration(s) for s in spans if s["name"] == name
                   and (tag is None or s["tag"] == tag)) / per

    def calls(name: str) -> float:
        return sum(s["name"] == name for s in warm_spans) / n

    def probe(key: str) -> float:
        return statistics.mean(it["probes"][key] for it in timed)

    model_spans = {"models.staging", "models.marts"}
    traced_wall = statistics.median(it["wall"] for it in traced)
    m = {
        "engine.session.jvm_start_s": statistics.median(record["setup"]["session_s"]),
        "process.peak_rss_mb": record["peak_rss_mb"],
        "jvm.jit_compile_first_s": iters[0]["probes"]["jit_s"],
        "jvm.jit_compile_s": probe("jit_s"),
        "jvm.gc_s": probe("gc_s"),
        "jvm.classes_loaded": probe("classes"),
        "jvm.codegen_compiles": probe("codegen"),
        "host.steal_s": probe("steal_s"),
        "trace.iter_s": traced_wall,
        "trace.overhead_s": traced_wall - statistics.median(
            it["wall"] for it in untraced),
        "engine.registry.run_s": secs("engine.registry.run"),
        "engine.checks.run_checks_s": secs("engine.checks.run_checks"),
        "engine.checks.freshness_s": secs("engine.checks.freshness"),
        "engine.checks.jobs": by_layer.get(
            "engine.checks.run_checks", {}).get("jobs", 0) / n,
        "queries.construct_s": secs("queries.construct"),
        "queries.construct_first_s": secs("queries.construct", spans=cold_spans, per=1),
        "queries.exec_s": secs("queries.exec"),
    }
    for mod in ("staging", "marts"):
        m[f"models.{mod}_s"] = sum(
            self_time(tracer, s, model_spans) for s in warm_spans
            if s["name"] == f"models.{mod}") / n
    m["engine.materialize.overwrite_s"] = secs("engine.materialize.overwrite")
    m["engine.materialize.overwrite_calls"] = calls("engine.materialize.overwrite")
    for entry in headline():
        m[f"queries.{entry}.exec_s"] = secs("queries.exec", entry)
    for k in ("jobs", "stages", "tasks", "task_cpu_s", "gc_s",
              "shuffle_write_mb", "spill_mb", "bytes_written_mb"):
        m[f"spark.{k}"] = total[k] / n
    m["spark.executor_busy_frac"] = total["task_run_s"] / (wall * cores)
    for layer in SPARK_LAYERS:
        acc = by_layer.get(layer, dict.fromkeys(FIELDS, 0.0))
        for k in LAYER_FIELDS:
            m[f"spark.{layer}.{k}"] = acc[k] / n
    m.update(wl.layers(traced, by_layer))
    record["by_layer"] = by_layer
    return m


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("full", "tiny"), default="full",
                   help="input size; tiny is for the smoke test")
    args = p.parse_args(argv)
    if not (ROOT / "furchild_spark").is_dir():
        print(f"perfbench: no furchild_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    sys.path[:0] = [str(BENCH), str(ROOT)]
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count()))
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    work = ROOT / ".perfbench" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        out = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    record = out.pop("record")
    contract = json.loads((ROOT / "BENCHMARK.json").read_text())
    spec = contract["per_layer" if args.trace else "end_to_end"]
    metrics = out["metrics"]
    missing = [s["name"] for s in spec if s["name"] not in metrics]
    if out["correct"] and missing:
        raise SystemExit(f"perfbench: metrics not produced: {missing}")
    out["metrics"] = {s["name"]: {"value": metrics[s["name"]], "unit": s["unit"]}
                      for s in spec if s["name"] in metrics}
    rec_dir = ROOT / ".perfbench" / "records"
    rec_dir.mkdir(parents=True, exist_ok=True)
    record["result"] = out
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(rec_dir / name, "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
