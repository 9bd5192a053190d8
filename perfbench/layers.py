"""Per-layer measurements for the traced run, from the benchmark's side
of the program's public API (no program code changes):

* Spark-free kernel controls (``parse_batch_arrow``, ``funnel_batch``);
* the spine ladder: the same frame cut after each layer and written to
  the noop sink, then the pipeline's own phase 1 (plan build, observed
  staging write), so each layer's leg is the wall it adds;
* one ``Pipeline.run`` with spans on the IceLite and lineage methods;
* a short exactly-once stream, read through ``recentProgress``;
* the curation funnel leg and the prefix-sum pack leg;
* Spark's event log for each probe phase.

The probe is the same in every traced run, so every per-layer metric is
measured on every workload.
"""

from __future__ import annotations

import itertools
import os
import shutil
import time

import pyarrow as pa
import pyarrow.parquet as pq

import inputs
from measure import median
from sparkstats import phase_metrics, progress_durations
from workloads import set_phase

SPAN_METHODS = [
    ("icelite", "IceLiteTable", "register_dir"),
    ("icelite", "IceLiteTable", "append_pandas"),
    ("lineage", "LineageLog", "commit"),
    ("lineage", "LineageLog", "committed_units"),
    ("lineage", "LineageLog", "records"),
]
PROBE_STREAM_FILES = 4

# every per-layer metric a traced run reports, with its unit
UNITS = {
    "control.host_ops_per_s": "1/s",
    "parsing.kernel_rows_per_s": "1/s",
    "curation.kernel_docs_per_s": "1/s",
    "scan.leg_s": "s",
    "parsing.leg_s": "s",
    "routing.status_leg_s": "s",
    "enrich.leg_s": "s",
    "routing.fanout_leg_s": "s",
    "pipeline.write_leg_s": "s",
    "parsing.py_sent_mb": "MB",
    "parsing.py_returned_mb": "MB",
    "parsing.py_run_s": "s",
    "routing.fanout_rows_per_turn": "count",
    "enrich.broadcast_joins": "count",
    "pipeline.route_write_s": "s",
    "pipeline.commit_s": "s",
    "pipeline.rollup_s": "s",
    "pipeline.spark_jobs_per_run": "count",
    "pipeline.stages_per_run": "count",
    "icelite.register_dir_s": "s",
    "icelite.append_pandas_s": "s",
    "icelite.manifest_bytes": "bytes",
    "icelite.files_per_run": "count",
    "icelite.sink_bytes_per_turn": "bytes",
    "lineage.commit_s": "s",
    "lineage.read_s": "s",
    "lineage.calls_per_run": "count",
    "lineage.journal_bytes": "bytes",
    "streaming.add_batch_ms": "ms",
    "streaming.overhead_ms": "ms",
    "streaming.query_planning_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.epoch_ms_growth": "ratio",
    "curation.funnel_leg_s": "s",
    "curation.pack_leg_s": "s",
    "curation.shuffle_write_mb": "MB",
    "curation.py_sent_mb": "MB",
    "curation.survivors": "count",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.tasks": "count",
    "spark.py_worker_start_s": "s",
    "spark.task_skew": "ratio",
    "trace.ladder_coverage": "ratio",
    "trace.overhead_frac": "ratio",
}


def install_spans(spans) -> None:
    """Wrap the public commit-path methods with spans. A lineage commit
    records the stage of what it commits (config/route_write/sink/agg)."""
    from skewer_spark import icelite, lineage

    mods = {"icelite": icelite, "lineage": lineage}
    for mod, cls, method in SPAN_METHODS:
        attrs = None
        if method == "commit":

            def attrs(self, records, *a, **k):
                return {"stage": records[0]["stage"] if records else ""}

        spans.wrap(getattr(mods[mod], cls), method, f"{mod}.{method}", attrs)


# ------------------------------------------------------------ controls
def _best_rate(fn, n: int, reps: int = 3) -> float:
    best = float("inf")
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t0)
    return n / best


def kernel_controls(seed: int) -> dict[str, float]:
    """Rows/s of the Spark-free parse kernel on a fixed 10k-turn batch
    and docs/s of the Spark-free curation kernel on one corpus copy."""
    from skewer_spark.ops.curation_kernel import funnel_batch
    from skewer_spark.parsing.arrowparse import parse_batch_arrow

    small = inputs.transcripts(seed, turns=inputs.FILE_TURNS)
    t = pq.read_table(inputs.transcript_files(small)[0]).to_pandas()
    ing = t["ts"].astype("datetime64[us]").astype("int64")
    docs = pq.read_table(
        os.path.join(inputs.corpus(seed, copies=1), "documents.parquet"),
        columns=["doc_id", "lang", "text"],
    ).combine_chunks()
    batch = pa.RecordBatch.from_struct_array(docs.to_struct_array().chunk(0))
    return {
        "parsing.kernel_rows_per_s": _best_rate(
            lambda: parse_batch_arrow(t["text"], ing), len(t)
        ),
        "curation.kernel_docs_per_s": _best_rate(
            lambda: funnel_batch(batch), batch.num_rows
        ),
    }


# ---------------------------------------------------------------- probe
def _noop(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def _ladder(spark, df, staging: str):
    """Cumulative rungs: scan, parse, status, enrich and fan-out frames
    (as ``Pipeline.routed_frame`` composes them for the default rules)
    written to the noop sink, then phase 1 of ``Pipeline.run`` itself —
    build ``routed_frame`` with its observation and stage it as parquet
    partitioned by sink. Returns (rungs, enriched frame)."""
    from pyspark.sql import Observation
    from skewer_spark import enrich as enr
    from skewer_spark.parsing import parse_transcripts
    from skewer_spark.pipeline import Pipeline
    from skewer_spark.routing import rules as R

    parsed = parse_transcripts(df)
    status = R.with_route_status(parsed)
    enriched = enr.enrich(status, spark)
    fanout = R.route_fanout(enriched, R.DEFAULT_RULES, status_aware=True)
    runs = itertools.count()

    def noop(frame):
        return lambda: _noop(frame)

    def staged() -> float:
        t0 = time.perf_counter()
        obs = Observation(f"ladder{next(runs)}")
        frame = Pipeline(spark, staging).routed_frame(df, observation=obs)
        frame.write.mode("overwrite").partitionBy("sink").parquet(staging)
        obs.get  # wait for the observed counters, as run() does
        return time.perf_counter() - t0

    rungs = [
        ("scan.leg_s", noop(df)),
        ("parsing.leg_s", noop(parsed)),
        ("routing.status_leg_s", noop(status)),
        ("enrich.leg_s", noop(enriched)),
        ("routing.fanout_leg_s", noop(fanout)),
        ("pipeline.write_leg_s", staged),
    ]
    return rungs, enriched


def _pipeline_phases(spans, t0: float) -> dict[str, float]:
    """Phase walls of the traced Pipeline.run started at ``t0``, read off
    its lineage commits: route_write ends phase 1, the last sink commit
    ends phase 2 (commits), the last agg commit ends phase 3 (rollups)."""
    commits = spans.named("lineage.commit", since=t0)
    end = {st: max((c["end"] for c in commits if c["stage"] == st), default=None)
           for st in ("route_write", "sink", "agg")}
    return {
        "pipeline.commit_s": end["sink"] - end["route_write"],
        "pipeline.rollup_s": end["agg"] - end["sink"],
    }


def _span_sum(spans, name: str, t0: float) -> float:
    return sum(r["end"] - r["start"] for r in spans.named(name, since=t0))


def _dir_bytes(path: str, pred) -> int:
    """Total size of the files under ``path`` whose name passes ``pred``."""
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files if pred(f))
    return total


def probe(spark, seed: int, work_dir: str, spans, log_events) -> dict[str, float]:
    """Run every layer probe once; ``log_events()`` returns the event
    log read so far (called after the probe)."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F
    from skewer_spark import streaming as S
    from skewer_spark.lineage import LineageLog
    from skewer_spark.ops.curation import curate_pack, funnel_tok_df
    from skewer_spark.pipeline import Pipeline

    out: dict[str, float] = {}
    tdir = inputs.transcripts(seed)
    df = spark.read.parquet(tdir)
    n_turns = df.count()

    # ---- spine ladder: warm the top rung, then each rung twice, min
    staging = os.path.join(work_dir, "probe_staging")
    rungs, enriched = _ladder(spark, df, staging)
    set_phase(spark, "probe.warm")
    rungs[-1][1]()
    best = {name: float("inf") for name, _ in rungs}
    for _ in range(2):
        for name, rung in rungs:
            set_phase(spark, f"probe.{name}")
            best[name] = min(best[name], rung())
    shutil.rmtree(staging, ignore_errors=True)
    prev = 0.0
    for name, _ in rungs:
        out[name] = best[name] - prev
        prev = best[name]
    plan = enriched._jdf.queryExecution().executedPlan().toString()
    out["enrich.broadcast_joins"] = float(plan.count("BroadcastHashJoin"))

    # ---- two untraced (the faster is the reference wall), one traced run
    set_phase(spark, "probe.pipeline_untraced")
    untraced_wall = float("inf")
    for i in range(2):
        wh = os.path.join(work_dir, f"probe_untraced{i}")
        t0 = time.perf_counter()
        Pipeline(spark, wh).run(df, run_id="probe")
        untraced_wall = min(untraced_wall, time.perf_counter() - t0)
        shutil.rmtree(wh, ignore_errors=True)
    wh = os.path.join(work_dir, "probe_traced")
    set_phase(spark, "probe.pipeline")
    spans.enabled = True
    t0 = time.perf_counter()
    with spans.span("pipeline.run"):
        res = Pipeline(spark, wh).run(df, run_id="probe")
    spans.enabled = False
    rec = LineageLog(wh).records()
    out["pipeline.route_write_s"] = (
        float(rec[rec.stage == "route_write"].wall_ms.sum()) / 1e3
    )
    out.update(_pipeline_phases(spans, t0))
    out["routing.fanout_rows_per_turn"] = sum(res.sink_rows.values()) / n_turns
    out["icelite.register_dir_s"] = _span_sum(spans, "icelite.register_dir", t0)
    out["icelite.append_pandas_s"] = _span_sum(spans, "icelite.append_pandas", t0)
    out["icelite.manifest_bytes"] = float(
        _dir_bytes(wh, lambda f: f == "_manifest.json")
    )
    out["icelite.files_per_run"] = float(
        sum(1 for _, _, fs in os.walk(wh) for f in fs if f.endswith(".parquet"))
    )
    out["icelite.sink_bytes_per_turn"] = (
        _dir_bytes(wh, lambda f: f.endswith(".parquet")) / n_turns
    )
    out["lineage.commit_s"] = _span_sum(spans, "lineage.commit", t0)
    out["lineage.read_s"] = _span_sum(
        spans, "lineage.committed_units", t0
    ) + _span_sum(spans, "lineage.records", t0)
    out["lineage.calls_per_run"] = float(
        sum(len(spans.named(f"lineage.{m}", since=t0))
            for m in ("commit", "committed_units", "records"))
    )
    out["lineage.journal_bytes"] = float(os.path.getsize(LineageLog(wh).path))
    ladder_total = sum(out[name] for name, _ in rungs)
    out["trace.ladder_coverage"] = (
        ladder_total + out["pipeline.commit_s"] + out["pipeline.rollup_s"]
    ) / untraced_wall
    shutil.rmtree(wh, ignore_errors=True)

    # ---- a short exactly-once stream
    landing = os.path.join(work_dir, "probe_landing")
    os.makedirs(landing, exist_ok=True)
    for f in inputs.transcript_files(tdir)[:PROBE_STREAM_FILES]:
        os.link(f, os.path.join(landing, os.path.basename(f)))
    wh, ck = os.path.join(work_dir, "probe_swh"), os.path.join(work_dir, "probe_ck")
    set_phase(spark, "probe.stream")
    q = S.start_exactly_once_pipeline_stream(
        S.read_transcript_stream(spark, landing, max_files=1), spark, wh, ck
    )
    if not q.awaitTermination(150) or q.exception() is not None:
        q.stop()
        raise RuntimeError(f"probe stream did not finish: {q.exception()}")
    d = progress_durations(q.recentProgress)
    out["streaming.add_batch_ms"] = median(d["add_batch"])
    out["streaming.overhead_ms"] = median(d["overhead"])
    out["streaming.query_planning_ms"] = median(d["planning"])
    out["streaming.wal_commit_ms"] = median(d["wal"])
    half = max(1, len(d["trigger"]) // 2)
    out["streaming.epoch_ms_growth"] = median(d["trigger"][-half:]) / median(
        d["trigger"][:half]
    )
    for p in (landing, wh, ck):
        shutil.rmtree(p, ignore_errors=True)

    # ---- curation legs
    cdir = inputs.corpus(seed)
    set_phase(spark, "probe.warm")
    _noop(curate_pack(spark, cdir))
    set_phase(spark, "probe.funnel")
    funnel = _noop(funnel_tok_df(spark, cdir))
    set_phase(spark, "probe.pack")
    obs = Observation("probe_pack")
    t0 = time.perf_counter()  # curate_pack checkpoints the funnel eagerly
    _noop(curate_pack(spark, cdir).observe(obs, F.count(F.lit(1)).alias("n")))
    pack = time.perf_counter() - t0
    out["curation.funnel_leg_s"] = funnel
    out["curation.pack_leg_s"] = pack - funnel
    out["curation.survivors"] = float(obs.get["n"])
    set_phase(spark, None)

    ev = log_events()
    parse = phase_metrics(ev, {"probe.parsing.leg_s"})
    out["parsing.py_sent_mb"] = parse["py_sent_mb"] / 2  # the rung ran twice
    out["parsing.py_returned_mb"] = parse["py_returned_mb"] / 2
    out["parsing.py_run_s"] = parse["py_run_s"] / 2
    pipe = phase_metrics(ev, {"probe.pipeline"})
    out["pipeline.spark_jobs_per_run"] = float(pipe["jobs"])
    out["pipeline.stages_per_run"] = float(pipe["stages"])
    pk = phase_metrics(ev, {"probe.pack"})
    out["curation.shuffle_write_mb"] = pk["shuffle_write_mb"]
    out["curation.py_sent_mb"] = pk["py_sent_mb"]
    return out


def window_metrics(events: list[dict], w) -> dict[str, float]:
    """Per-op Spark metrics of the workload's own window, and the span
    overhead (traced-op median over untraced-op median, minus 1)."""
    m = phase_metrics(events, {"window"})
    n = len(w.op_ms)
    return {
        "spark.executor_cpu_s": m["executor_cpu_s"] / n,
        "spark.gc_s": m["gc_s"] / n,
        "spark.shuffle_write_mb": m["shuffle_write_mb"] / n,
        "spark.spill_mb": m["spill_mb"] / n,
        "spark.tasks": m["tasks"] / n,
        "spark.py_worker_start_s": (m["py_start_s"] + m["py_init_s"]) / n,
        "spark.task_skew": m["task_skew"],
        "trace.overhead_frac": median(w.traced_ms) / median(w.untraced_ms) - 1.0,
    }

