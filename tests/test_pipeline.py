"""Pipeline orchestration tests: atomic per-sink commits, lineage,
checkpoint resume (mirrors resetStuckInSent crash recovery,
/root/reference/store/store.go:887-941), and exactly-once rerun safety.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from skewer_spark.pipeline import Pipeline
from skewer_spark.queries import load_transcripts


@pytest.fixture()
def warehouse(tmp_path):
    return str(tmp_path / "warehouse")


def test_full_run_counts(spark, sf_dir, warehouse):
    tr = load_transcripts(spark, sf_dir)
    p = Pipeline(spark, warehouse)
    res = p.run(tr, run_id="run1")
    assert res.rows_in == tr.count()
    # every sink committed and readable
    total_routed = 0
    for sink in ("sink_app", "sink_security", "sink_tools", "sink_default"):
        df = p.table(sink).read(spark)
        assert df.count() == res.sink_rows[sink]
        total_routed += res.sink_rows[sink]
    assert total_routed > 0
    # dead letter holds the rejected rows
    dl = p.table("dead_letter").read(spark).count()
    assert dl == res.status_counts["rejected"]
    # aggregates committed
    ag = p.table("agg_facility").read(spark)
    assert ag.groupBy().sum("n").collect()[0][0] == total_routed


def test_rerun_same_run_id_is_noop(spark, sf_dir, warehouse):
    tr = load_transcripts(spark, sf_dir)
    p = Pipeline(spark, warehouse)
    r1 = p.run(tr, run_id="runX")
    n1 = p.table("sink_app").read(spark).count()
    r2 = p.run(tr, run_id="runX")
    assert len(r2.skipped_units) >= 4  # all sinks + aggs skipped
    assert p.table("sink_app").read(spark).count() == n1  # no duplicates


def test_crash_resume(spark, sf_dir, warehouse):
    """Kill after 2 of 4 sink commits; resume completes the rest without
    duplicating the committed ones (SURVEY.md section 5.4)."""
    tr = load_transcripts(spark, sf_dir)
    p = Pipeline(spark, warehouse)
    with pytest.raises(RuntimeError, match="simulated crash"):
        p.run(tr, run_id="runC", fail_after_sinks=2)
    committed_before = {u for u in p.lineage.committed_units()}
    assert len([u for u in committed_before if u[1] == "sink"]) == 2
    n_app_before = p.table("sink_app").read(spark).count()

    res = p.run(tr, run_id="runC")  # resume
    skipped = {u[2] for u in res.skipped_units}
    assert "sink_app" in skipped and "sink_security" in skipped
    assert p.table("sink_app").read(spark).count() == n_app_before
    # all four sinks now exist with full content
    for sink in ("sink_app", "sink_security", "sink_tools", "sink_default"):
        assert p.table(sink).read(spark).count() > 0
    # lineage has one record set per unit, no duplicates from the resume
    lin = p.lineage.records()
    sink_units = lin[lin.stage == "sink"].groupby("sink").size()
    assert (sink_units >= 1).all()


def test_lineage_partition_rows_sum(spark, sf_dir, warehouse):
    tr = load_transcripts(spark, sf_dir)
    p = Pipeline(spark, warehouse)
    res = p.run(tr, run_id="runL")
    lin = p.lineage.records()
    for sink, n in res.sink_rows.items():
        got = lin[(lin.stage == "sink") & (lin.sink == sink)].rows_out.sum()
        assert got == n, (sink, got, n)
    # min/max conv_id bounds per committed file (SURVEY.md section 4.2)
    # come from parquet footer stats and must bracket the actual data
    sunits = lin[(lin.stage == "sink") & (lin.sink == "sink_app")]
    assert (sunits.min_key != "").all() and (sunits.max_key != "").all()
    actual = (
        p.table("sink_app").read(spark).agg(
            F.min("conv_id").alias("mn"), F.max("conv_id").alias("mx")
        ).collect()[0]
    )
    assert sunits.min_key.min() == actual["mn"]
    assert sunits.max_key.max() == actual["mx"]


def test_salted_pipeline_same_results(spark, sf_dir, tmp_path):
    tr = load_transcripts(spark, sf_dir)
    p1 = Pipeline(spark, str(tmp_path / "w1"))
    p2 = Pipeline(spark, str(tmp_path / "w2"), salt_partitions=8)
    r1 = p1.run(tr, run_id="a")
    r2 = p2.run(tr, run_id="b")
    assert r1.sink_rows == r2.sink_rows
    a = p1.table("sink_app").read(spark).select("conv_id", "turn_idx", "text")
    b = p2.table("sink_app").read(spark).select("conv_id", "turn_idx", "text")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_dead_letter_replay(spark, sf_dir, tmp_path):
    """NACK retry loop (store.go:988,947-1058): dead-letter rows of a
    prior run re-enter the pipeline under a new run_id with retry-time
    classification; rows that no longer reject route normally."""
    tr = load_transcripts(spark, sf_dir)
    p = Pipeline(spark, str(tmp_path / "w"))
    r1 = p.run(tr, run_id="base")
    n_dead = r1.sink_rows.get("dead_letter", 0)
    assert n_dead > 0
    r2 = p.replay_dead_letter("base")
    assert r2.run_id == "base-retry"
    assert r2.rows_in == n_dead
    assert r2.sink_rows.get("dead_letter", 0) == 0  # nothing re-rejects
    # every non-dropped replayed row routes via the TRUE rule (the
    # dropped rule still applies on retry, as in the reference's filter)
    assert (
        r2.sink_rows.get("sink_default", 0)
        == n_dead - r2.status_counts["dropped"]
    )
    # the retry run is idempotent like any run
    r3 = p.replay_dead_letter("base")
    assert r3.rows_in == 0 and len(r3.skipped_units) >= 5


def test_run_config_versioned(spark, sf_dir, tmp_path):
    """Config lifecycle (SURVEY.md section 3.4; store.go:655-729): each
    run's routing config is persisted under a content-addressed ConfId
    and recoverable by run_id; resume does not duplicate it."""
    tr = load_transcripts(spark, sf_dir)
    p = Pipeline(spark, str(tmp_path / "w"))
    p.run(tr, run_id="cfgrun")
    cfg = p.run_config("cfgrun")
    assert cfg is not None
    assert [r["sink"] for r in cfg["rules"]] == [
        "sink_app", "sink_security", "sink_tools", "sink_default"
    ]
    assert cfg["rejected_expr"] == "parse_error"
    p.run(tr, run_id="cfgrun")  # resume/no-op
    lin = p.lineage.records()
    assert len(lin[(lin.run_id == "cfgrun") & (lin.stage == "config")]) == 1
    # a replay run records its own (different) config version
    p.replay_dead_letter("cfgrun")
    rc = p.run_config("cfgrun-retry")
    assert rc is not None and rc["rejected_expr"] == "FALSE"


def test_compaction_preserves_rows_and_run_idempotency(spark, tmp_path):
    # Iceberg rewrite_data_files analog: many small per-run files
    # become ~target-sized ones in ONE atomic snapshot; rows survive
    # exactly and a rerun of an ABSORBED run_id still skips (resume
    # idempotency is keyed on run markers, which compaction must carry)
    from skewer_spark.icelite import IceLiteTable

    t = IceLiteTable(str(tmp_path / "wh"), "sink_app")
    df = spark.range(100).selectExpr("id", "cast(id % 7 as string) AS k")
    for r in ("r1", "r2", "r3", "r4"):
        assert t.append(df.repartition(4), r) is not None
    assert len(t.data_files()) == 16
    before = t.read(spark).count()

    snap = t.compact(spark, target_file_bytes=1 << 30)  # everything -> 1 file
    assert snap is not None and snap.operation == "compact"
    assert len(t.data_files()) == 1
    assert t.read(spark).count() == before == 400
    # absorbed run markers survive the rewrite
    assert {"r1", "r2", "r3", "r4"} <= t.committed_runs()
    assert t.append(df, "r2") is None  # rerun of an absorbed run: skip
    assert t.read(spark).count() == 400
    # fresh runs still append; small tables are a no-op
    assert t.append(df, "r5") is not None
    assert t.read(spark).count() == 500
    assert t.compact(spark, min_files=64) is None


def test_compact_crash_window_orphans_are_reaped(spark, tmp_path):
    # ADVICE r2 (low): a crash between compact's manifest swap and its
    # old-dir removal used to leak orphan data dirs forever (reads stay
    # correct via the manifest; disk grows silently). The compact
    # snapshot now records the replaced snapshot_ids and gc_orphans()
    # reaps exactly those — never an unreferenced dir it cannot prove
    # replaced (that may be an in-flight writer's uncommitted output).
    import os

    from skewer_spark.icelite import IceLiteTable

    t = IceLiteTable(str(tmp_path / "wh"), "sink_app")
    df = spark.range(50).selectExpr("id")
    for r in ("r1", "r2", "r3", "r4"):
        assert t.append(df.repartition(2), r) is not None
    old_dirs = {os.path.dirname(f) for f in t.data_files()}
    snap = t.compact(spark, target_file_bytes=1 << 30)
    assert snap is not None and set(snap.replaced) == {
        os.path.basename(d) for d in old_dirs
    }

    # simulate the crash window: resurrect a replaced dir on disk
    crashed = sorted(old_dirs)[0]
    os.makedirs(crashed, exist_ok=True)
    open(os.path.join(crashed, "leftover.parquet"), "wb").close()
    # an uncommitted in-flight dir must SURVIVE gc
    inflight = os.path.join(str(tmp_path / "wh"), "sink_app", "data", "snap-inflight")
    os.makedirs(inflight)

    reaped = t.gc_orphans()
    assert os.path.basename(crashed) in reaped
    assert not os.path.isdir(crashed)
    assert os.path.isdir(inflight)
    assert t.read(spark).count() == 200  # reads unaffected throughout


def test_compact_row_check_raises_not_asserts(spark, tmp_path):
    # the row-preservation check must be an explicit raise (a bare
    # assert disappears under python -O); force a mismatch by poking a
    # wrong snapshot row count into the manifest path is not possible
    # without breaking parquet, so verify the check exists by API: the
    # compact path on a healthy table returns and the source shows no
    # bare assert (regression pin).
    import inspect

    from skewer_spark import icelite

    src = inspect.getsource(icelite.IceLiteTable.compact)
    assert "raise IOError" in src and "\n        assert " not in src


def test_pipeline_compact_sinks_roundtrip(spark, tmp_path, sf_dir):
    from skewer_spark.datagen import ensure_transcripts
    from skewer_spark.pipeline import Pipeline

    df = spark.read.parquet(ensure_transcripts(sf_dir))
    pipe = Pipeline(spark, str(tmp_path / "wh"))
    pipe.run(df, run_id="runA")
    df2 = df.selectExpr("concat('b-', conv_id) AS conv_id", "turn_idx",
                        "role", "text", "tool", "ts")
    pipe.run(df2, run_id="runB")
    counts_before = {
        n: pipe.table(n).read(spark).count()
        for n in ("sink_app", "sink_default")
    }
    done = pipe.compact_sinks(target_file_bytes=1 << 30, min_files=2)
    assert "sink_app" in done and "sink_default" in done
    for n, c in counts_before.items():
        assert pipe.table(n).read(spark).count() == c
    # reruns of compacted-away runs remain no-ops end-to-end
    res = pipe.run(df, run_id="runA")
    assert res.rows_in == 0 or res.skipped_units, res
    for n, c in counts_before.items():
        assert pipe.table(n).read(spark).count() == c


def test_lineage_torn_tail_tolerated_and_repaired(tmp_path):
    # VERDICT r2 #8: a crash mid-append leaves a partial final line;
    # readers must see exactly the durable prefix and the next commit
    # must repair the tail — mirroring resetStuckInSent robustness
    # (store/store.go:887-941). Mid-file corruption still raises.
    import json

    import pytest as _pytest

    from skewer_spark.lineage import LineageLog

    log = LineageLog(str(tmp_path))
    rec = dict(run_id="r1", stage="route", sink="sink_app",
               partition_id=0, rows_in=10, rows_out=10, wall_ms=5)
    log.commit([dict(rec)])
    log.commit([dict(rec, sink="sink_sec")])
    assert len(log.records()) == 2

    # simulate the crash: append half a JSON record, no newline
    with open(log.path, "a") as f:
        f.write('{"run_id": "r2", "stage": "rou')
    assert len(log.records()) == 2                      # torn tail ignored
    assert ("r1", "route", "sink_app") in log.committed_units()

    log.commit([dict(rec, run_id="r3")])                # repairs then appends
    recs = log.records()
    assert list(recs.run_id) == ["r1", "r1", "r3"]
    raw = open(log.path, "rb").read()
    assert raw.endswith(b"\n") and b'"r2"' not in raw   # tail truncated

    # corruption NOT at the tail is an error, never silently dropped
    lines = raw.split(b"\n")
    lines[0] = b'{"broken'
    open(log.path, "wb").write(b"\n".join(lines))
    with _pytest.raises(ValueError, match="corrupt"):
        log.records()


def test_time_travel_reads(spark, tmp_path):
    # Iceberg VERSION AS OF analog: as_of pins the read to the commit
    # log prefix ending at that snapshot; compaction expires history
    # (single-timeline manifest) and a stale id raises instead of
    # silently reading the wrong state
    import pytest as _pytest

    from skewer_spark.icelite import IceLiteTable

    t = IceLiteTable(str(tmp_path / "wh"), "sink_app")
    s1 = t.append(spark.range(10).selectExpr("id"), "r1")
    s2 = t.append(spark.range(5).selectExpr("id + 100 AS id"), "r2")
    assert t.read(spark).count() == 15
    assert t.read(spark, as_of=s1.snapshot_id).count() == 10
    assert t.read(spark, as_of=s2.snapshot_id).count() == 15
    with _pytest.raises(KeyError, match="not in"):
        t.read(spark, as_of="snap-nonexistent")

    snap = t.compact(spark, target_file_bytes=1 << 30, min_files=2)
    assert t.read(spark, as_of=snap.snapshot_id).count() == 15
    with _pytest.raises(KeyError, match="expired"):
        t.read(spark, as_of=s1.snapshot_id)


def test_lineage_torn_at_every_offset(tmp_path):
    # exhaustive crash-point sweep: truncate the journal at EVERY byte
    # offset inside the final record; the reader must always return the
    # durable prefix (2 records) and never raise — then a fresh commit
    # must repair and extend from any of those states
    from skewer_spark.lineage import LineageLog

    def mk(tag):
        return dict(run_id=tag, stage="route", sink="sink_app",
                    partition_id=0, rows_in=1, rows_out=1, wall_ms=1)

    base = LineageLog(str(tmp_path / "base"))
    base.commit([mk("r1")])
    base.commit([mk("r2")])
    base.commit([mk("r3")])
    full = open(base.path, "rb").read()
    lines = full.splitlines(keepends=True)
    assert len(lines) == 3
    prefix = b"".join(lines[:2])
    last = lines[2]

    for cut in range(1, len(last)):
        d = tmp_path / f"c{cut}"
        d.mkdir()
        log = LineageLog(str(d))
        with open(log.path, "wb") as f:
            f.write(prefix + last[:cut])
        recs = log.records()
        # a partial cut of the final record is not valid JSON, so the
        # reader sees exactly the durable 2-record prefix — except the
        # newline-only cut, where the record IS fully durable and counts
        want = ["r1", "r2", "r3"] if cut == len(last) - 1 else ["r1", "r2"]
        assert list(recs.run_id) == want, (cut, list(recs.run_id))
        log.commit([mk("r9")])
        assert list(log.records().run_id)[-1] == "r9"
        raw = open(log.path, "rb").read()
        assert raw.endswith(b"\n")


def test_two_runs_agg_totals_do_not_double_count(spark, sf_dir, tmp_path):
    # phase-3 rollups are per-run DELTAS over this run's committed
    # files only: two runs into one warehouse must sum to exactly the
    # combined routed rows (the old full-table re-aggregation appended
    # run1's totals AGAIN under run2)
    tr = load_transcripts(spark, sf_dir)
    p = Pipeline(spark, str(tmp_path / "wh"))
    r1 = p.run(tr.where("turn_idx % 2 = 0"), run_id="runA")
    r2 = p.run(tr.where("turn_idx % 2 = 1"), run_id="runB")
    want = sum(r1.sink_rows[s] + r2.sink_rows[s]
               for s in r1.sink_rows if s != "dead_letter")
    got = p.table("agg_facility").read(spark).groupBy().sum("n").collect()[0][0]
    assert got == want, (got, want)
    # severity/tool rollups see the same delta semantics
    got_sev = p.table("agg_severity").read(spark).groupBy().sum("n").collect()[0][0]
    assert got_sev == want


def test_empty_dead_letter_unit_commits_and_staging_cleans(spark, sf_dir, tmp_path):
    # zero rejected rows -> the dead_letter snapshot is EMPTY; its work
    # unit must still get a lineage record (zero-row marker) so the
    # all-units-committed check passes and staging is removed
    import os

    tr = load_transcripts(spark, sf_dir).limit(200)
    p = Pipeline(spark, str(tmp_path / "wh"), rejected_expr="FALSE")
    res = p.run(tr, run_id="clean")
    assert res.status_counts["rejected"] == 0
    assert ("clean", "sink", "dead_letter") in p.lineage.committed_units()
    assert not os.path.exists(p._staging_dir("clean"))


def test_resume_backfills_lineage_after_commit_gap(spark, sf_dir, tmp_path, monkeypatch):
    # crash BETWEEN a sink's manifest commit (register_dir) and its
    # lineage append: on resume register_dir returns None (idempotency)
    # and the lineage record must be backfilled from the manifest —
    # otherwise the unit stays uncommitted forever and staging leaks
    import os

    from skewer_spark.lineage import LineageLog

    tr = load_transcripts(spark, sf_dir).limit(300)
    p = Pipeline(spark, str(tmp_path / "wh"))
    real_commit = LineageLog.commit
    state = {"armed": True}

    def failing_commit(self, records):
        if state["armed"] and any(r.get("stage") == "sink" for r in records):
            state["armed"] = False
            raise RuntimeError("simulated crash after manifest commit")
        return real_commit(self, records)

    monkeypatch.setattr(LineageLog, "commit", failing_commit)
    with pytest.raises(RuntimeError, match="simulated crash"):
        p.run(tr, run_id="gap")
    monkeypatch.setattr(LineageLog, "commit", real_commit)

    res = Pipeline(spark, str(tmp_path / "wh")).run(tr, run_id="gap")
    p2 = Pipeline(spark, str(tmp_path / "wh"))
    units = p2.lineage.committed_units()
    for s in ("sink_app", "sink_security", "sink_tools", "sink_default",
              "dead_letter"):
        assert ("gap", "sink", s) in units, s
    assert not os.path.exists(p2._staging_dir("gap"))
    # backfilled rows are real manifest rows, and a further rerun no-ops
    res3 = p2.run(tr, run_id="gap")
    assert len(res3.skipped_units) >= 5


def test_overwrite_commits_manifest_before_removing_old_dirs(spark, tmp_path):
    # append(overwrite=True) follows compact's crash-safe order: the
    # new manifest carries the replaced snapshot ids + prior run_ids as
    # parents, old dirs go away after the swap, a rerun of a
    # pre-overwrite run_id still skips, and gc_orphans can reap a dir
    # that survived a crash inside the removal window
    import os

    from skewer_spark.icelite import IceLiteTable

    t = IceLiteTable(str(tmp_path / "wh"), "tbl")
    df1 = spark.range(10).selectExpr("cast(id as string) AS v")
    df2 = spark.range(5).selectExpr("cast(id as string) AS v")
    s1 = t.append(df1, "r1")
    s2 = t.append(df2, "r2", overwrite=True)
    assert s2.operation == "overwrite"
    assert "r1" in (s2.parents or []) and s1.snapshot_id in (s2.replaced or [])
    assert t.read(spark).count() == 5
    # pre-overwrite run replays as a no-op
    assert t.append(df1, "r1") is None
    # crash window: a replaced dir left on disk is reaped by gc
    ghost = os.path.join(t.dir, "data", s1.snapshot_id)
    os.makedirs(ghost, exist_ok=True)
    assert s1.snapshot_id in t.gc_orphans()
    assert not os.path.isdir(ghost)


def test_lineage_repair_keeps_parseable_unterminated_tail(tmp_path):
    # a crash can persist the final record's JSON but not its trailing
    # newline; _read counts it as committed, so repair must
    # RE-TERMINATE it — truncating would un-commit an observed unit
    from skewer_spark.lineage import LineageLog

    log = LineageLog(str(tmp_path))
    rec = dict(run_id="r", stage="sink", sink="a", partition_id=0,
               rows_in=1, rows_out=1, wall_ms=0)
    log.commit([dict(rec)])
    with open(log.path, "rb+") as f:
        raw = f.read()
        f.seek(0)
        f.truncate()
        f.write(raw.rstrip(b"\n"))  # strip the terminator, keep the JSON
    assert ("r", "sink", "a") in log.committed_units()
    log.commit([dict(rec, sink="b")])
    units = log.committed_units()
    assert ("r", "sink", "a") in units and ("r", "sink", "b") in units


def test_incremental_read_consumes_only_new_snapshots(spark, tmp_path):
    # Iceberg incremental-consumption analog: a downstream consumer of
    # a huge table processes only the appends since its last-seen
    # snapshot — manifest-only file listing, no full rescan
    from skewer_spark.icelite import IceLiteTable

    t = IceLiteTable(str(tmp_path / "wh"), "tbl")
    df = spark.range(10).selectExpr("id", "cast(id as string) AS k")
    s1 = t.append(df, "r1")
    s2 = t.append(df.selectExpr("id + 10 AS id", "k"), "r2")
    s3 = t.append(df.selectExpr("id + 20 AS id", "k"), "r3")

    inc = t.read_incremental(spark, after=s1.snapshot_id)
    ids = sorted(r.id for r in inc.collect())
    assert ids == list(range(10, 30))
    # bounded window: (s1, s2]
    win = t.read_incremental(spark, after=s1.snapshot_id, until=s2.snapshot_id)
    assert sorted(r.id for r in win.collect()) == list(range(10, 20))
    # empty range keeps the schema
    empty = t.read_incremental(spark, after=s3.snapshot_id)
    assert empty.count() == 0 and empty.columns == ["id", "k"]
    # unknown snapshot is loud
    import pytest as _pytest

    with _pytest.raises(KeyError):
        t.incremental_files("nope")


def test_incremental_read_refuses_rewrite_ranges(spark, tmp_path):
    # deltas are undefined across a rewrite: a compact/overwrite inside
    # the window must force the consumer to a full read, never silently
    # double-count rewritten rows
    from skewer_spark.icelite import IceLiteTable

    t = IceLiteTable(str(tmp_path / "wh"), "tbl")
    df = spark.range(10).selectExpr("id", "cast(id as string) AS k")
    s1 = t.append(df.repartition(4), "r1")
    t.append(df.selectExpr("id + 10 AS id", "k").repartition(4), "r2")
    assert t.compact(spark, target_file_bytes=1 << 30, min_files=2) is not None
    import pytest as _pytest

    # s1 itself survives in the manifest only if compaction replaced
    # the timeline; IceLite keeps one timeline, so after expires
    with _pytest.raises((KeyError, ValueError)):
        t.read_incremental(spark, after=s1.snapshot_id)


def test_read_pruned_skips_files_by_footer_bounds(spark, tmp_path):
    # Iceberg scan-planning analog: a key-range read opens only the
    # files whose parquet-footer min/max overlap the range, and the
    # result still equals a full-scan filter
    from skewer_spark.icelite import IceLiteTable

    t = IceLiteTable(str(tmp_path / "wh"), "tbl")
    # three appends with disjoint conv_id ranges -> disjoint bounds
    for i, (lo, hi) in enumerate([(100, 199), (200, 299), (300, 399)]):
        df = spark.range(lo, hi + 1).selectExpr(
            "format_string('c%06d', id) AS conv_id", "id AS v"
        ).coalesce(1)
        t.append(df, f"r{i}")
    n_total = len(t.data_files())
    pruned = t.pruned_files("conv_id", "c000150", "c000250")
    assert 0 < len(pruned) < n_total, (len(pruned), n_total)
    got = sorted(
        r.conv_id
        for r in t.read_pruned(spark, "conv_id", "c000150", "c000250").collect()
    )
    want = sorted(
        r.conv_id
        for r in t.read(spark)
        .where("conv_id between 'c000150' and 'c000250'")
        .collect()
    )
    assert got == want and len(got) == 101
    # empty range prunes everything but keeps the schema
    empty = t.read_pruned(spark, "conv_id", "zzz", "zzz9")
    assert empty.count() == 0 and empty.columns == ["conv_id", "v"]


def test_resume_with_changed_config_raises(spark, sf_dir, tmp_path):
    """Resuming a run under a DIFFERENT routing config must fail loudly:
    staging was routed under the old rules, so continuing would mix
    configs within one run and falsify its ConfId lineage (the
    reference routes each message under the config active at arrival,
    store/store.go:655-729)."""
    tr = load_transcripts(spark, sf_dir).limit(300)
    wh = str(tmp_path / "wh")
    p = Pipeline(spark, wh)
    with pytest.raises(RuntimeError, match="simulated crash"):
        p.run(tr, run_id="cfg", fail_after_sinks=1)
    changed = Pipeline(spark, wh, rejected_expr="severity >= 99")
    with pytest.raises(ValueError, match="different routing config"):
        changed.run(tr, run_id="cfg")
    # the ORIGINAL config resumes fine, and a new run_id under the new
    # config is unaffected
    res = Pipeline(spark, wh).run(tr, run_id="cfg")
    assert res.rows_in >= 0 and len(res.skipped_units) >= 1
    res2 = changed.run(tr, run_id="cfg2")
    assert ("cfg2", "sink", "sink_app") in changed.lineage.committed_units()


def test_empty_input_zero_counts_and_agg_markers(spark, sf_dir, tmp_path):
    """Zero-row input: observation sums observe NULL — counts must come
    back as int 0, not None — and the agg units must still be marked
    committed (else every resume re-runs the melt phase forever)."""
    tr = load_transcripts(spark, sf_dir).limit(0)
    p = Pipeline(spark, str(tmp_path / "wh"))
    res = p.run(tr, run_id="empty")
    assert res.rows_in == 0
    assert res.status_counts == {"dropped": 0, "rejected": 0}
    assert all(isinstance(v, int) for v in res.status_counts.values())
    units = p.lineage.committed_units()
    for k in ("facility", "severity", "tool"):
        assert ("empty", "agg", f"agg_{k}") in units, k
    res2 = p.run(tr, run_id="empty")
    assert {u[1] for u in res2.skipped_units} >= {"sink", "agg"}
    # arithmetic on the counts (the real consumer pattern) works
    assert res.rows_in - res.status_counts["dropped"] == 0


def test_phase3_backfills_lineage_after_agg_commit_gap(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Crash BETWEEN an agg table's manifest commit and its lineage
    append: on resume append_pandas returns None (idempotency) and the
    record must be backfilled from the manifest — phase 2's pattern —
    or the unit stays pending and every rerun re-runs the melt scan."""
    from skewer_spark.lineage import LineageLog

    tr = load_transcripts(spark, sf_dir).limit(300)
    wh = str(tmp_path / "wh")
    p = Pipeline(spark, wh)
    real_commit = LineageLog.commit
    state = {"armed": True}

    def failing_commit(self, records):
        if state["armed"] and any(r.get("stage") == "agg" for r in records):
            state["armed"] = False
            raise RuntimeError("simulated crash after agg manifest commit")
        return real_commit(self, records)

    monkeypatch.setattr(LineageLog, "commit", failing_commit)
    with pytest.raises(RuntimeError, match="simulated crash"):
        p.run(tr, run_id="agap")
    monkeypatch.setattr(LineageLog, "commit", real_commit)

    p2 = Pipeline(spark, wh)
    p2.run(tr, run_id="agap")  # resume
    units = p2.lineage.committed_units()
    for k in ("facility", "severity", "tool"):
        assert ("agap", "agg", f"agg_{k}") in units, k
        # exactly one committed snapshot per agg table — no duplicates
        snaps = [
            s for s in p2.table(f"agg_{k}").snapshots() if s.run_id == "agap"
        ]
        assert len(snaps) == 1, k
    # the backfilled lineage row carries the real manifest row count
    lin = p2.lineage.records()
    row = lin[(lin.stage == "agg") & (lin.sink == "agg_facility")]
    manifest_rows = next(
        s.rows
        for s in p2.table("agg_facility").snapshots()
        if s.run_id == "agap"
    )
    assert int(row.rows_in.iloc[0]) == manifest_rows
    res3 = p2.run(tr, run_id="agap")
    assert len(res3.skipped_units) >= 8  # 5 sinks + 3 aggs


def test_replay_raises_after_compaction_absorbs_run(spark, sf_dir, tmp_path):
    """Once compaction absorbs a run's dead_letter snapshot, per-run
    replay is impossible — it must raise (read_excluding_run's
    fail-loud rule), never silently replay zero rows."""
    tr = load_transcripts(spark, sf_dir)
    p = Pipeline(spark, str(tmp_path / "wh"))
    r1 = p.run(tr, run_id="base")
    assert r1.sink_rows.get("dead_letter", 0) > 0
    # a second run so compaction has >1 snapshot to absorb
    p.run(tr.limit(200), run_id="base2")
    done = p.compact_sinks(min_files=1)
    assert "dead_letter" in done
    with pytest.raises(ValueError, match="absorbed by compaction"):
        p.replay_dead_letter("base")
    # an unknown run (never committed) still returns the empty result
    r_none = p.replay_dead_letter("never-ran")
    assert r_none.rows_in == 0 and r_none.sink_rows == {}


def test_register_dir_rename_crash_window_preserves_rows(
    spark, tmp_path, monkeypatch
):
    """Crash BETWEEN register_dir's os.rename and the manifest commit:
    the staged input was consumed by the rename, so the rerun must
    adopt the already-renamed dir — not commit an empty snapshot over
    orphaned data (silent loss)."""
    import os

    from skewer_spark.icelite import IceLiteTable

    src = str(tmp_path / "staging" / "sink=x")
    spark.range(123).coalesce(1).write.parquet(src)
    t = IceLiteTable(str(tmp_path / "wh"), "x")
    real = IceLiteTable._commit_manifest

    def boom(self, snaps):
        raise RuntimeError("crash between rename and manifest commit")

    monkeypatch.setattr(IceLiteTable, "_commit_manifest", boom)
    with pytest.raises(RuntimeError, match="crash between"):
        t.register_dir(src, "runR")
    assert not os.path.isdir(src)  # the rename consumed the staging dir
    monkeypatch.setattr(IceLiteTable, "_commit_manifest", real)

    snap = IceLiteTable(str(tmp_path / "wh"), "x").register_dir(src, "runR")
    assert snap is not None and snap.rows == 123
    assert t.read(spark).count() == 123
    # and the rerun after THAT is the usual idempotent no-op
    assert t.register_dir(src, "runR") is None


def test_append_rmw_keeps_concurrent_commit(spark, tmp_path, monkeypatch):
    """A second writer committing DURING another run's append must not
    be erased by the first writer's manifest read-modify-write: the
    manifest is re-read at commit time."""
    import pandas as pd
    import pyarrow.parquet as pq

    from skewer_spark.icelite import IceLiteTable

    wh = str(tmp_path / "wh")
    t = IceLiteTable(wh, "x")
    real_write = pq.write_table
    state = {"first": True}

    def interleaved(table, path, **kw):
        if state["first"]:
            state["first"] = False
            # writer B lands a full commit while A's write is in flight
            IceLiteTable(wh, "x").append_pandas(
                pd.DataFrame({"v": [10, 11]}), "B"
            )
        return real_write(table, path, **kw)

    monkeypatch.setattr(pq, "write_table", interleaved)
    snap_a = t.append_pandas(pd.DataFrame({"v": [1, 2, 3]}), "A")
    monkeypatch.setattr(pq, "write_table", real_write)
    assert snap_a is not None
    runs = t.committed_runs()
    assert {"A", "B"} <= runs
    assert t.read(spark).count() == 5  # both writers' rows visible


def test_key_bounds_partial_stats_make_file_unprunable():
    """A file where only SOME row groups carry key statistics must
    report no bounds at all: bounds from the stat-bearing groups alone
    are narrower than the file's true range, and pruning on them would
    silently drop rows."""
    from skewer_spark.icelite import _key_bounds_from_md

    class St:
        def __init__(self, lo, hi):
            self.has_min_max = lo is not None
            self.min, self.max = lo, hi

    class Col:
        def __init__(self, st):
            self.statistics = st

    class RG:
        def __init__(self, st):
            self._st = st

        def column(self, idx):
            return Col(self._st)

    class SchemaCol:
        def __init__(self, name):
            self.name = name

    class Schema:
        def column(self, i):
            return SchemaCol("k")

    class MD:
        def __init__(self, stats):
            self.schema = Schema()
            self.num_columns = 1
            self.num_row_groups = len(stats)
            self._rgs = [RG(s) for s in stats]

        def row_group(self, i):
            return self._rgs[i]

    # all groups have stats -> real bounds
    assert _key_bounds_from_md(MD([St("a", "c"), St("d", "f")]), "k") == (
        "a",
        "f",
    )
    # ONE group without stats -> whole file unprunable
    assert _key_bounds_from_md(MD([St("a", "c"), St(None, None)]), "k") == (
        "",
        "",
    )
    # stats missing entirely -> unprunable
    assert _key_bounds_from_md(MD([St(None, None)]), "k") == ("", "")
    # key column absent -> unprunable
    assert _key_bounds_from_md(MD([St("a", "c")]), "missing") == ("", "")
