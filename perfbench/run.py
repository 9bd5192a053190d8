"""Steady-state benchmark of the skewer_spark engine.

    python3 perfbench/run.py --workload spine|curation \\
        --seed N --seconds S --trace 0|1

Run from the repository root. One run: generate (or reuse) the seed's
inputs and DuckDB reference, set up the Spark session several times
(each set-up = session start + a small first operation), prime to
steady state, then run operations for S seconds of measured time,
checking every output against the reference outside the timed part.

The last stdout line is the result object
``{"correct", "attempted", "failed", "metrics"}``; the line before it
holds the run's details (controls, set-up samples, sample counts, tail
percentile). ``--trace 1`` turns on Spark's event log and the spans and
reports the per-layer metrics instead of the end-to-end ones.
See perfbench/README.md.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
SETUPS = 3  # set-ups per run; setup_s is their median


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["spine", "curation"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def program_present() -> bool:
    return os.path.isfile(os.path.join(ROOT, "skewer_spark", "pipeline.py"))


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def isolate_env(run_dir: str) -> None:
    """Keep every file Spark, the JVM and Python workers write inside the
    run directory, and let the workers import the program."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # hsperfdata always goes to /tmp; the spark-submit launcher JVM
    # reads its flags from here, the driver JVM from extraJavaOptions
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, BENCH_DIR] + [p for p in [os.environ.get("PYTHONPATH")] if p]
    )
    os.environ.pop("SKEWER_SHUFFLE_PARTITIONS", None)


def start_session(run_dir: str, event_log: str | None):
    from skewer_spark.session import get_spark

    tmp = os.path.join(run_dir, "tmp")
    conf = {
        "spark.driver.memory": "2g",
        "spark.local.dir": tmp,
        # a fixed heap, so peak PSS does not hinge on when G1 expands it
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms2g"
        ),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "spark-warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_log,
                # the default codec is zstd, which the stdlib cannot read
                "spark.eventLog.compress": "false",
            }
        )
    return get_spark(
        app_name="perfbench",
        master=f"local[{cpus()}]",
        silence_window_warn=True,
        extra_conf=conf,
    )


def shutdown(spark) -> None:
    """Stop Spark, end the JVM (it exits when its stdin pipe closes) and
    wait until every process this run started has ended."""
    import signal

    from pyspark import SparkContext

    import measure

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        SparkContext._gateway = SparkContext._jvm = None
        gw.shutdown()
        gw.proc.stdin.close()
        gw.proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while (left := measure.process_tree()[1:]) and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in left:
        os.kill(pid, signal.SIGKILL)


def end_to_end(w, setups: list[float], peak_pss_mb: float) -> dict[str, float]:
    from measure import median

    ops = w.measured()
    return {
        "rows_per_s": median([w.op_rows[i] / (w.op_ms[i] / 1e3) for i in ops]),
        "cpu_us_per_row": median([w.op_cpu_s[i] / w.op_rows[i] * 1e6 for i in ops]),
        "peak_pss_mb": peak_pss_mb,
        "setup_s": median(setups),
    }


UNITS = {
    "rows_per_s": "1/s",
    "cpu_us_per_row": "us",
    "peak_pss_mb": "MB",
    "setup_s": "s",
}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not program_present():
        print(f"perfbench: no skewer_spark package under {ROOT}", file=sys.stderr)
        return 2
    if args.seconds <= 0:
        print("perfbench: --seconds must be positive", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, BENCH_DIR]

    import pyspark  # noqa: F401  (import cost belongs to the first set-up)
    import skewer_spark.pipeline  # noqa: F401
    import skewer_spark.streaming  # noqa: F401
    import skewer_spark.ops.curation  # noqa: F401

    import layers
    import measure
    import sparkstats
    from workloads import WORKLOADS, set_phase

    t_imports = time.perf_counter() - T_START
    run_dir = os.path.join(BENCH_DIR, ".data", f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    isolate_env(run_dir)
    event_log = None
    if args.trace:
        event_log = os.path.join(run_dir, "eventlog")
        os.makedirs(event_log)
    spans = measure.Spans() if args.trace else None
    spark = None
    try:
        control_before = measure.host_ops_per_s()
        wl = WORKLOADS[args.workload](os.path.join(run_dir, "work"), args.seed)
        t0 = time.perf_counter()
        wl.prepare()  # inputs and reference: benchmark-side, not set-up
        controls = layers.kernel_controls(args.seed)
        phases = {"prepare_s": time.perf_counter() - t0}
        if spans is not None:
            layers.install_spans(spans)
        with measure.PssSampler() as pss:
            setups = []
            for i in range(SETUPS):
                if spark is not None:
                    spark.stop()
                t0 = time.perf_counter()
                spark = start_session(run_dir, event_log)
                wl.first_op(spark)
                setups.append(time.perf_counter() - t0 + (t_imports if i == 0 else 0.0))
            t0 = time.perf_counter()
            wl.prime(spark)
            phases["prime_s"] = time.perf_counter() - t0
            pss.reset()
            set_phase(spark, "window")
            w = wl.window(spark, args.seconds, spans)
            set_phase(spark, None)
            peak_pss_mb = pss.peak_mb
            app_id = spark.sparkContext.applicationId
            per_layer = {}
            t0 = time.perf_counter()
            if args.trace:
                log_files = lambda: sparkstats.app_log_files(event_log, app_id)  # noqa: E731
                per_layer = layers.probe(
                    spark, args.seed, run_dir, spans,
                    lambda: sparkstats.read_events(log_files()),
                )
            phases["probe_s"] = time.perf_counter() - t0
        shutdown(spark)
        spark = None
        control_after = measure.host_ops_per_s()
        e2e = end_to_end(w, setups, peak_pss_mb)
        details = {
            "workload": args.workload,
            "seed": args.seed,
            "cpus": cpus(),
            "unit": wl.unit,
            "rows": sum(w.op_rows),
            "window_s": w.wall_s,
            "ops": measure.timing_summary(w.op_ms),
            "op_ms": w.op_ms,
            "setups_s": setups,
            "control.host_ops_per_s": [control_before, control_after],
            "op_steal": w.op_steal,
            "ops_measured": len(w.measured()),
            **controls,
            "e2e": e2e,
            "phases": phases,
            "total_s": time.perf_counter() - T_START,
        }
        if args.trace:
            per_layer.update(controls)
            per_layer["control.host_ops_per_s"] = min(control_before, control_after)
            per_layer.update(
                layers.window_metrics(sparkstats.read_events(log_files()), w)
            )
            details["spans"] = len(spans.records)
            spans_path = os.path.join(
                BENCH_DIR, ".data", f"spans-{args.workload}-{args.seed}.json"
            )
            with open(spans_path, "w") as f:
                json.dump(spans.records, f)
        metrics = (
            {k: {"value": per_layer[k], "unit": u} for k, u in layers.UNITS.items()}
            if args.trace
            else {k: {"value": v, "unit": UNITS[k]} for k, v in e2e.items()}
        )
        print(json.dumps(details, default=float))
        print(
            json.dumps(
                {
                    "correct": w.failed == 0,
                    "attempted": w.attempted,
                    "failed": w.failed,
                    "metrics": metrics,
                }
            )
        )
        return 0
    finally:
        if spark is not None:
            shutdown(spark)
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
