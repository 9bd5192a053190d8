"""End-to-end orchestration: parse -> enrich -> route -> fan-out sinks ->
aggregates, with per-sink atomic commits, lineage, and checkpoint resume.

Mirrors the reference's message lifecycle (SURVEY.md section 3) in bounded
batch: the Store's Ready/Sent/ACK machinery becomes IceLite snapshot
commits + a lineage journal; resetStuckInSent crash recovery
(/root/reference/store/store.go:887-941) becomes resume-by-anti-join:
work units already committed are skipped, everything else reruns
idempotently.

Scale design (single-pass, zero persist):
- the parse UDF runs EXACTLY ONCE: status-aware fan-out routes passing
  rows to their sinks and rejected rows to the dead_letter sink, and one
  ``partitionBy('sink')`` write materializes every sink in one job (the
  reference stores one message body shared by all destinations,
  store/store.go:1162-1176 — same single-materialization idea);
- per-sink IceLite commits then just RENAME staging partition dirs into
  the sink tables (Iceberg add_files semantics) — crash between commits
  resumes with zero recompute because the staging write is keyed by
  run_id;
- rollup aggregates re-scan the committed columnar files pruned to
  (sink, key) columns — no cache, no second pass over the wide rows;
- observe() counters collect rows_in / dropped / rejected during the
  write job itself;
- optional salted repartition bounds task sizes under hot-conversation
  skew (the fan-out stages are per-row, so salting is safe).
"""

from __future__ import annotations

import os
import shutil
import time
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from skewer_spark import enrich as enr
from skewer_spark.icelite import IceLiteTable
from skewer_spark.lineage import LineageLog, snapshot_lineage
from skewer_spark.parsing import parse_transcripts
from skewer_spark.routing import rules as R
from skewer_spark.routing.rules import DEAD_LETTER_SINK
from skewer_spark.skew import salted_repartition

AGG_KEYS = ("facility", "severity", "tool")
ROLLUP_SCHEMA = "facility BIGINT, severity BIGINT, tool STRING"


@dataclass
class PipelineResult:
    run_id: str
    rows_in: int = 0
    status_counts: dict = field(default_factory=dict)
    sink_rows: dict = field(default_factory=dict)
    skipped_units: list = field(default_factory=list)
    reused_staging: bool = False
    wall_ms: int = 0


class Pipeline:
    def __init__(
        self,
        spark: SparkSession,
        warehouse: str,
        rules: tuple[R.RouteRule, ...] = R.DEFAULT_RULES,
        salt_partitions: int | None = None,
        rejected_expr: str = R.STATUS_REJECTED_EXPR,
        dropped_expr: str = R.STATUS_DROPPED_EXPR,
    ):
        self.spark = spark
        self.warehouse = warehouse
        self.rules = rules
        self.salt_partitions = salt_partitions
        self.rejected_expr = rejected_expr
        self.dropped_expr = dropped_expr
        self.lineage = LineageLog(warehouse)

    def _status(self, parsed: DataFrame) -> DataFrame:
        return R.with_route_status(
            parsed, rejected_expr=self.rejected_expr, dropped_expr=self.dropped_expr
        )

    def table(self, name: str) -> IceLiteTable:
        return IceLiteTable(self.warehouse, name)

    def rollup_scan(self, sink_files: list[tuple[str, list[str]]]) -> DataFrame:
        """The phase-3 rollup input: (sink, facility, severity, tool)
        over the given (sink, data files) pairs. The pinned read schema
        prunes the scan to the key columns and skips the schema
        inference job a bare ``read.parquet`` starts per sink; Spark
        widens INT32 key columns to the schema's BIGINT."""
        frames = [
            self.spark.read.schema(ROLLUP_SCHEMA)
            .parquet(*files)
            .select(F.lit(sink).alias("sink"), *AGG_KEYS)
            for sink, files in sink_files
        ]
        u = frames[0]
        for f2 in frames[1:]:
            u = u.unionByName(f2)
        return u

    def compact_sinks(
        self, target_file_bytes: int = 128 * 1024 * 1024, min_files: int = 4
    ) -> dict[str, int]:
        """Maintenance pass: bin-pack every sink table's accumulated
        per-run files (Iceberg rewrite_data_files analog). Returns
        {table: rows} for the tables actually rewritten. Run it between
        ingest runs — resume idempotency is preserved because compacted
        snapshots carry the absorbed run_ids."""
        done: dict[str, int] = {}
        if not os.path.isdir(self.warehouse):
            return done
        for name in sorted(os.listdir(self.warehouse)):
            t = self.table(name)
            if not os.path.exists(t.manifest_path):
                continue
            snap = t.compact(self.spark, target_file_bytes, min_files)
            if snap is not None:
                done[name] = snap.rows
        return done

    # ------------------------------------------------------------ config
    def _config_json(self) -> str:
        """The run's routing config as canonical JSON — the analog of
        the FilterSubConfig the reference persists per ConfId
        (store/store.go:655-729) so every message is routed under the
        config that was active when it arrived (SURVEY.md section 3.4)."""
        import dataclasses
        import json as _json

        return _json.dumps(
            {
                "rules": [dataclasses.asdict(r) for r in self.rules],
                "rejected_expr": self.rejected_expr,
                "dropped_expr": self.dropped_expr,
                "salt_partitions": self.salt_partitions,
            },
            sort_keys=True,
        )

    def _conf_id(self) -> str:
        import hashlib

        return hashlib.sha256(self._config_json().encode()).hexdigest()[:16]

    def _persist_config(self, run_id: str) -> None:
        cfg = self._config_json()
        conf_id = self._conf_id()
        path = os.path.join(self.warehouse, "_configs", f"{conf_id}.json")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        if not os.path.exists(path):
            tmp = path + ".tmp"
            with open(tmp, "w") as f:
                f.write(cfg)
            os.replace(tmp, path)
        self.lineage.commit(
            [
                {
                    "run_id": run_id,
                    "stage": "config",
                    "sink": conf_id,  # the run's ConfId
                    "partition_id": -1,
                    "rows_in": -1,
                    "rows_out": -1,
                    "wall_ms": 0,
                }
            ]
        )

    def run_config(self, run_id: str) -> dict | None:
        """Load the exact routing config a past run used (by its lineage
        ConfId record) — the forwarder's config-by-ConfId lookup."""
        import json as _json

        recs = self.lineage.records()
        rows = recs[(recs.run_id == run_id) & (recs.stage == "config")]
        if not len(rows):
            return None
        conf_id = rows.iloc[0]["sink"]
        with open(os.path.join(self.warehouse, "_configs", f"{conf_id}.json")) as f:
            return _json.load(f)

    def _staging_dir(self, run_id: str) -> str:
        return os.path.join(self.warehouse, "_staging", run_id)

    # ------------------------------------------------------------ build
    def routed_frame(
        self,
        transcripts: DataFrame,
        status_aware: bool = True,
        observation: Observation | None = None,
    ) -> DataFrame:
        """The full phase-1 plan (salt -> parse -> status -> hooks ->
        enrich -> fan-out). run() executes EXACTLY this builder (with
        its observation attached), so the plan tools/dump_plans.py and
        the plan gates inspect can never drift from what production
        runs. ``observation`` attaches rows_in/dropped/rejected
        counters to the post-status frame (collected by Spark during
        whatever job consumes the result — zero extra passes)."""
        df = transcripts
        if self.salt_partitions:
            df = salted_repartition(df, self.salt_partitions)
        from skewer_spark.routing.filter_hooks import apply_hooks_for_rules

        parsed = self._status(parse_transcripts(df))
        if observation is not None:
            parsed = parsed.observe(
                observation,
                F.count(F.lit(1)).alias("rows_in"),
                F.sum(
                    F.when(F.col("route_status") == "dropped", 1).otherwise(0)
                ).alias("dropped"),
                F.sum(
                    F.when(F.col("route_status") == "rejected", 1).otherwise(0)
                ).alias("rejected"),
            )
        if status_aware:
            enriched = apply_hooks_for_rules(
                enr.enrich(parsed, self.spark), self.rules
            )
            return R.route_fanout(enriched, self.rules, status_aware=True)
        passing = parsed.where(F.col("route_status") == "passing")
        enriched = apply_hooks_for_rules(
            enr.enrich(passing, self.spark), self.rules
        )
        return R.route_fanout(enriched, self.rules)

    # ------------------------------------------------------------ replay
    def replay_dead_letter(
        self,
        source_run_id: str,
        replay_run_id: str | None = None,
        rejected_expr: str = "FALSE",
        dropped_expr: str | None = None,
    ) -> PipelineResult:
        """NACK-retry analog (store.go:988,947-1058: Failed -> Ready,
        re-forwarded after a delay). Reads the dead-letter rows a prior
        run committed, rebuilds the original transcript columns, and
        re-runs them under a NEW run_id with the retry-time
        classification (default: previously-rejected rows now pass —
        the environment changed, e.g. a fixed routing config; rows that
        reject AGAIN land back in dead_letter, the retry loop). All the
        usual idempotence applies to the replay run_id."""
        table = self.table(DEAD_LETTER_SINK)
        own_snaps = [s for s in table.snapshots() if s.run_id == source_run_id]
        paths = [
            f
            for s in own_snaps
            for f, _ in table.per_file_rows(s.snapshot_id)
        ]
        replay_run_id = replay_run_id or f"{source_run_id}-retry"
        if not paths:
            if not own_snaps and source_run_id in table.committed_runs():
                # the run's dead-letter snapshot was absorbed by
                # compaction: its rows exist but can no longer be
                # isolated per-run. Returning an empty result here would
                # be indistinguishable from "no rejects" while zero rows
                # were actually replayed — fail loudly (same rule as
                # read_excluding_run) so the caller replays before
                # compacting or replays the full table explicitly.
                raise ValueError(
                    f"dead-letter rows of run {source_run_id!r} were "
                    "absorbed by compaction and cannot be replayed "
                    "per-run; replay before compact_sinks(), or rerun "
                    "the whole dead_letter table under a new run_id"
                )
            return PipelineResult(run_id=replay_run_id)
        src = self.spark.read.parquet(*paths).select(
            "conv_id", "turn_idx", "role", "text", "tool", "ts"
        )
        retry = Pipeline(
            self.spark,
            self.warehouse,
            rules=self.rules,
            salt_partitions=self.salt_partitions,
            rejected_expr=rejected_expr,
            dropped_expr=dropped_expr or self.dropped_expr,
        )
        return retry.run(src, run_id=replay_run_id)

    # ------------------------------------------------------------ run
    def run(
        self,
        transcripts: DataFrame,
        run_id: str | None = None,
        fail_after_sinks: int | None = None,
    ) -> PipelineResult:
        """Execute the full pipeline. Idempotent per run_id: rerunning
        with the same run_id (resume) skips committed units and reuses
        the staging write if it completed before the crash.

        fail_after_sinks: test hook — raise after N sink commits to
        simulate a mid-run crash (resume test, SURVEY.md section 5.4).
        """
        run_id = run_id or uuid.uuid4().hex[:12]
        t_start = time.time()
        res = PipelineResult(run_id=run_id)
        committed = self.lineage.committed_units()
        staging = self._staging_dir(run_id)
        all_sinks = [r.sink for r in self.rules] + [DEAD_LETTER_SINK]
        prior_conf = next(
            (u[2] for u in committed if u[0] == run_id and u[1] == "config"),
            None,
        )
        if prior_conf is None:
            self._persist_config(run_id)  # version the routing config
        elif prior_conf != self._conf_id():
            # Resume under a DIFFERENT config would mix configs within
            # one run (staging routed under the old rules, recompute /
            # added sinks under the new) and falsify the run's ConfId
            # lineage — the reference routes every message under the
            # config active when it arrived (store/store.go:655-729).
            raise ValueError(
                f"resume of run {run_id!r} with a different routing config "
                f"(committed ConfId {prior_conf}, current {self._conf_id()}); "
                "rerun with the original config or start a new run_id"
            )

        # ---- phase 1: the one full pass (parse+enrich+route+write) ----
        obs = Observation(f"route_obs_{run_id}_{int(time.time()*1000)}")
        staging_done = os.path.exists(os.path.join(staging, "_SUCCESS"))
        all_units_committed = all(
            (run_id, "sink", s) in committed for s in all_sinks
        )
        if not staging_done and not all_units_committed:
            routed = self.routed_frame(
                transcripts, status_aware=True, observation=obs
            )
            t0 = time.time()
            routed.write.mode("overwrite").partitionBy("sink").parquet(staging)
            # `or 0`: F.sum over zero rows observes NULL — the key is
            # PRESENT with value None, so dict.get's default never fires
            res.status_counts = {
                k: int(obs.get.get(k) or 0) for k in ("dropped", "rejected")
            }
            res.rows_in = int(obs.get.get("rows_in") or 0)
            self.lineage.commit(
                [
                    {
                        "run_id": run_id,
                        "stage": "route_write",
                        "sink": "*",
                        "partition_id": -1,
                        "rows_in": res.rows_in,
                        "rows_out": -1,
                        "wall_ms": int((time.time() - t0) * 1000),
                        "committed_at": time.time(),
                    }
                ]
            )
        else:
            res.reused_staging = staging_done

        # ---- phase 2: per-sink atomic commits (rename, no recompute) ----
        n_sinks_done = 0
        for sink in all_sinks:
            unit = (run_id, "sink", sink)
            if unit in committed:
                res.skipped_units.append(unit)
                continue
            t0 = time.time()
            table = self.table(sink)
            snap = table.register_dir(os.path.join(staging, f"sink={sink}"), run_id)
            if snap is None:
                # the manifest already carries this run (a crash landed
                # between register_dir's commit and the lineage append):
                # BACKFILL the lineage record from the manifest, or the
                # unit stays permanently uncommitted — staging never
                # cleans up and every rerun re-enters this loop
                snap = next(
                    (s for s in table.snapshots() if s.run_id == run_id),
                    None,
                )
            if snap is not None:
                self.lineage.commit(
                    snapshot_lineage(
                        run_id, "sink", sink,
                        table.per_file_stats(snap.snapshot_id),
                        rows_in=snap.rows,
                        wall_ms=int((time.time() - t0) * 1000),
                    )
                )
                res.sink_rows[sink] = snap.rows
            else:
                # run_id survives only as a compaction parent: per-file
                # stats are gone; commit a marker record so resume
                # bookkeeping completes (rows_out=-1 = unrecoverable)
                self.lineage.commit(
                    [
                        {
                            "run_id": run_id,
                            "stage": "sink",
                            "sink": sink,
                            "partition_id": -1,
                            "rows_in": -1,
                            "rows_out": -1,
                            "wall_ms": int((time.time() - t0) * 1000),
                            "committed_at": time.time(),
                        }
                    ]
                )
            n_sinks_done += 1
            if fail_after_sinks is not None and n_sinks_done >= fail_after_sinks:
                raise RuntimeError(f"simulated crash after {n_sinks_done} sinks")

        # ---- phase 3: rollups from the committed columnar files ----
        # ONE melt job over the sink tables (column-pruned scan of just
        # sink/facility/severity/tool) computes all three rollups; the
        # results are tiny (<= sinks x 24 rows each) and are committed
        # driver-side — three Spark write jobs replaced by one scan.
        pending_aggs = [
            k for k in AGG_KEYS if (run_id, "agg", f"agg_{k}") not in committed
        ]
        res.skipped_units.extend(
            (run_id, "agg", f"agg_{k}") for k in AGG_KEYS if k not in pending_aggs
        )
        agg_overwrite = False
        if pending_aggs:
            # DELTA aggregation: scan only THIS RUN's committed files
            # per sink, never the whole table — the agg tables hold one
            # delta snapshot per run and totals are the sum across
            # snapshots. (Scanning t.read() here would total ALL runs
            # and append that under this run_id: every earlier run
            # double-counted — and at 10^12 rows the full-table re-scan
            # per run is the wrong cost shape anyway.) If a pending
            # run's per-run files were already absorbed by compaction
            # (crash before the agg units, maintenance ran in between),
            # fall back to ONE full recompute committed as an OVERWRITE
            # snapshot — totals stay exact because the overwrite
            # replaces every prior delta.
            sink_files = []
            for rule in self.rules:  # dead letter excluded from rollups
                t = self.table(rule.sink)
                run_snap = next(
                    (s for s in t.snapshots() if s.run_id == run_id), None
                )
                if run_snap is None:
                    if run_id in t.committed_runs():
                        agg_overwrite = True  # absorbed: delta is gone
                        break
                    continue  # sink had no rows this run
                files = [f for f, _ in t.per_file_rows(run_snap.snapshot_id)]
                if files:
                    sink_files.append((rule.sink, files))
            if agg_overwrite:
                sink_files = [
                    (rule.sink, files)
                    for rule in self.rules
                    if (files := self.table(rule.sink).data_files())
                ]
            if sink_files:
                u = self.rollup_scan(sink_files)
                melted = u.select(
                    "sink",
                    F.explode(
                        F.array(
                            *[
                                F.struct(
                                    F.lit(k).alias("key"),
                                    F.col(k).cast("string").alias("value"),
                                )
                                for k in AGG_KEYS
                            ]
                        )
                    ).alias("kv"),
                )
                t0 = time.time()
                counts = (
                    melted.groupBy("sink", "kv.key", "kv.value")
                    .agg(F.count(F.lit(1)).alias("n"))
                    .toPandas()
                )
                agg_wall = int((time.time() - t0) * 1000)
                # agg_facility/agg_severity hold int32 keys (the
                # reference's Priority), but a sink transform can widen
                # a key: refuse it before any agg commit, never wrap it
                for key in ("facility", "severity"):
                    sub = counts[counts.key == key]
                    v = sub["value"].astype("int64")
                    wide = sub[(v < -(2**31)) | (v >= 2**31)]
                    if len(wide):
                        raise ValueError(
                            f"sink {wide.sink.iloc[0]!r} holds {key}="
                            f"{wide.value.iloc[0]}, which does not fit the "
                            f"int32 column of agg_{key}"
                        )
                for key in pending_aggs:
                    sub = counts[counts.key == key][["sink", "value", "n"]].copy()
                    if key in ("facility", "severity"):
                        sub[key] = sub["value"].astype("int32")
                    else:
                        sub[key] = sub["value"]
                    pdf = (
                        sub[["sink", key, "n"]]
                        .sort_values(["sink", key])
                        .reset_index(drop=True)
                    )
                    table = self.table(f"agg_{key}")
                    if agg_overwrite:
                        snap = table.append(
                            self.spark.createDataFrame(pdf),
                            run_id,
                            overwrite=True,
                        )
                    else:
                        snap = table.append_pandas(pdf, run_id)
                    if snap is None:
                        # a prior attempt crashed between the agg append
                        # and the lineage commit: BACKFILL from the
                        # manifest (phase 2's pattern), or the unit
                        # stays pending and every resume re-runs the
                        # melt scan forever
                        snap = next(
                            (
                                s
                                for s in table.snapshots()
                                if s.run_id == run_id
                            ),
                            None,
                        )
                    if snap is not None:
                        self.lineage.commit(
                            snapshot_lineage(
                                run_id, "agg", f"agg_{key}",
                                table.per_file_stats(snap.snapshot_id),
                                rows_in=snap.rows,
                                wall_ms=agg_wall,
                            )
                        )
                    else:
                        # run_id survives only as a compaction parent:
                        # marker record so resume bookkeeping completes
                        self.lineage.commit(
                            [
                                {
                                    "run_id": run_id,
                                    "stage": "agg",
                                    "sink": f"agg_{key}",
                                    "partition_id": -1,
                                    "rows_in": -1,
                                    "rows_out": -1,
                                    "wall_ms": agg_wall,
                                    "committed_at": time.time(),
                                }
                            ]
                        )

            if not sink_files:
                # zero routed rows this run (every sink snapshot empty):
                # nothing to aggregate, but the units must still be
                # marked committed — snapshot_lineage's contract — or
                # every future resume re-enters this phase forever
                for key in pending_aggs:
                    self.lineage.commit(
                        [
                            {
                                "run_id": run_id,
                                "stage": "agg",
                                "sink": f"agg_{key}",
                                "partition_id": -1,
                                "rows_in": 0,
                                "rows_out": 0,
                                "wall_ms": 0,
                                "committed_at": time.time(),
                            }
                        ]
                    )

        # staging leftovers (e.g. empty partitions dir) cleaned once all
        # sinks committed
        if all((run_id, "sink", s) in self.lineage.committed_units() for s in all_sinks):
            shutil.rmtree(staging, ignore_errors=True)

        res.wall_ms = int((time.time() - t_start) * 1000)
        return res
