"""One benchmark run, in a process of its own started by ``run.py``.

Phases, in order:

1. set-up, repeated ``SETUP_REPS[workload]`` times: start a Spark session with the
   program's ``get_spark`` and run the workload's warm-up. The
   first repetition also starts the JVM. ``setup_s`` is their median.
2. timed passes over the workload's operations, as many as
   ``workloads.passes_for`` gives for ``--seconds``. The first pass
   checks every operation's output, outside the operation's timed
   interval. A traced run makes exactly one pass.
3. shutdown: peak RSS is read from /proc, the session and JVM are
   stopped, and a traced run reads its event log back into per-layer
   counters.

The result is written as JSON to ``--out``; ``run.py`` prints it.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA_ROOT = os.path.join(ROOT, ".perfbench_data")
#: Set-ups per run. The first also starts the JVM, so the median is a warm
#: start. An llm-loops set-up takes about 2.3 s warm, and five of them left
#: too little of the time budget for four rounds per pass; an etl set-up
#: takes about 0.5 s.
SETUP_REPS = {"llm-loops": 3, "etl": 5}


def declared_units(traced: bool) -> dict[str, str]:
    """Metric name -> unit, as ``BENCHMARK.json`` declares them for the
    run's kind (per-layer when traced, end-to-end otherwise)."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"]
            for m in spec["per_layer" if traced else "end_to_end"]}


def tail(passes: list[dict]) -> tuple[float, str, int]:
    """The slowest op's mean latency: each op's latencies over the run
    (every pass and round) are averaged, and the largest mean is the tail.
    An llm-loops run has 28 op latencies, too few for a percentile with ten
    samples beyond it that is not next to the median, and a single slowest
    sample moves with the host's speed at one moment; the mean of one op's
    four rounds is taken at four moments of the run. Returns the tail,
    the op it belongs to and that op's sample count."""
    by_op: dict[str, list[float]] = {}
    for p in passes:
        for op in p["ops"]:
            by_op.setdefault(op.name, []).append(op.latency)
    name = max(by_op, key=lambda n: statistics.fmean(by_op[n]))
    return statistics.fmean(by_op[name]), name, len(by_op[name])


def peak_rss_mb(pids: list[int]) -> float:
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024.0


def spark_submit_args(work: str, trace: bool) -> str:
    tmp = os.path.join(work, "tmp")
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.hadoop.hadoop.tmp.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            # the default zstd codec needs the optional zstandard module
            # to read the log back
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    args = [f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items()]
    return " ".join(args + ["pyspark-shell"])


def stop_jvm() -> None:
    """Stop the py4j gateway and wait for the JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception as exc:  # the JVM may already be gone
        print(f"perfbench: gateway shutdown: {exc}", file=sys.stderr)
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args(argv)
    traced = bool(args.trace)
    t_start = time.perf_counter()
    marks = {}
    # the launcher owns stdout; JVM and library chatter goes to stderr
    os.dup2(2, 1)
    sys.stdout = sys.stderr
    os.environ["PYSPARK_SUBMIT_ARGS"] = spark_submit_args(args.work, traced)

    import datagen
    import workloads
    from spans import Tracer

    if args.workload == "etl":
        wl = workloads.EtlWorkload(args.seed, args.work)
    else:
        wl = workloads.QueryWorkload(
            args.seed, datagen.ensure(DATA_ROOT, workloads.SCALE))

    from pyspark import SparkContext

    from finanalyzer_spark.plans import artifacts
    from finanalyzer_spark.session import get_spark

    def fresh_artifact_root(tag: str) -> str:
        root = os.path.join(args.work, "artifacts", tag)
        os.makedirs(root)
        os.environ["SPARK_GRAFT_ARTIFACT_DIR"] = root
        return root

    setups = []
    spark = None
    for rep in range(SETUP_REPS[args.workload]):
        if spark is not None:
            spark.stop()
        fresh_artifact_root(f"setup{rep}")
        t0 = time.perf_counter()
        spark = get_spark("perfbench")
        spark.sparkContext.setLogLevel("ERROR")
        wl.warmup(spark)
        setups.append(time.perf_counter() - t0)
    app_id = spark.sparkContext.applicationId
    marks["setup_done"] = time.perf_counter() - t_start

    tracer = Tracer(traced, spark)
    problems: list[str] = []
    passes = []
    for i in range(1 if traced else workloads.passes_for(args.workload, args.seconds)):
        root = fresh_artifact_root(f"pass{i}")
        built0 = sum(artifacts.BUILD_SECONDS.values())
        ops = wl.run_pass(spark, tracer, i == 0, problems)
        wall = sum(op.seconds for op in ops)
        passes.append({
            "ops": ops, "wall": wall,
            "builds": sum(1 for d in os.listdir(root) if ".tmp-" not in d),
            "build_s": sum(artifacts.BUILD_SECONDS.values()) - built0,
        })
    wl.close()
    marks["passes_done"] = time.perf_counter() - t_start

    pids = [os.getpid(), SparkContext._gateway.proc.pid]
    rss = peak_rss_mb(pids)
    spark.stop()
    stop_jvm()
    marks["stopped"] = time.perf_counter() - t_start

    lat = [op.latency for p in passes for op in p["ops"]]
    attempted = len(lat)
    failed_ops = sorted({pr.split(":", 1)[0] for pr in problems})
    failed = sum(1 for p in passes for op in p["ops"] if op.error)
    if failed == 0 and problems:
        failed = 1  # a workload-level check failed (etl invariants)
    report = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "passes": len(passes), "ops_per_pass": len(passes[0]["ops"]),
        "attempted_ops": attempted, "failed_ops": failed,
        "error_rate": failed / attempted,
        "failed_names": failed_ops, "problems": problems,
        "setup_samples_s": setups,
        "peak_rss_mb": rss,
        "phase_marks_s": marks,
        "pass_walls_s": [p["wall"] for p in passes],
        "op_latencies_s": {name: [round(op.latency, 4) for p in passes
                                  for op in p["ops"] if op.name == name]
                           for name in dict.fromkeys(
                               op.name for op in passes[0]["ops"])},
        "artifact_builds_per_pass": [p["builds"] for p in passes],
        "artifact_build_s": statistics.median(p["build_s"] for p in passes),
    }
    tail_s, report["tail_op"], report["tail_n"] = tail(passes)
    metrics = {
        "setup_s": statistics.median(setups),
        "suite_s": statistics.median(p["wall"] for p in passes),
        "latency_p50_s": statistics.median(lat),
        "latency_tail_s": tail_s,
    }
    if args.workload == "etl":
        report.update(etl_report(passes, wl))
    if traced:
        import layers

        log = os.path.join(args.work, "eventlog", app_id)
        metrics, extra = layers.per_layer(
            tracer.spans, log, passes[0], wl)
        report.update(extra)
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        tracer.dump(os.path.join(
            out_dir, f"{args.workload}-seed{args.seed}-spans.json"),
            {"workload": args.workload, "seed": args.seed,
             "ops": [{"name": op.name, "seconds": op.seconds,
                      "build_s": op.build_s, "error": op.error, **op.layers}
                     for op in passes[0]["ops"]],
             "per_op": extra["per_op"]})
    units = declared_units(traced)
    if set(metrics) != set(units):
        raise RuntimeError(
            f"metrics {sorted(metrics)} differ from BENCHMARK.json {sorted(units)}")
    result = {"correct": not problems, "attempted": attempted,
              "failed": failed,
              "metrics": {k: {"value": v, "unit": units[k]}
                          for k, v in metrics.items()},
              "report": report}
    with open(args.out, "w") as fh:
        json.dump(result, fh)
    return 0


def etl_report(passes, wl) -> dict:
    def op_s(name: str) -> list[float]:
        return [op.seconds for p in passes for op in p["ops"] if op.name == name]

    refresh = [op.seconds for p in passes for op in p["ops"]
               if op.name.startswith("refresh")]
    return {
        "fill_s": statistics.median(op_s("fill")),
        "refresh_p50_s": statistics.median(refresh),
        "stream_s_per_day": statistics.median(op_s("stream")) / wl.facts["stream_days"],
        "read_after_write_s": statistics.median(op_s("read")),
        "store_bytes_per_row": wl.facts["store_bytes_per_row"],
    }


if __name__ == "__main__":
    sys.exit(main())
