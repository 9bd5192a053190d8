"""Per-partition lineage/metrics + checkpoint resume bookkeeping.

Analog of the reference's delivery state machine: the Sent/Failed queue
bookkeeping and crash recovery (resetStuckInSent,
/root/reference/store/store.go:887-941,1326-1471) become a lineage table
of committed work units. A work unit is (run_id, stage, sink); resume =
skip units already committed (anti-join of planned vs committed).

Row metrics come from two zero-extra-pass sources:
- ``DataFrame.observe`` counters on the routed stream (rows_in, per-sink
  matched counts) — collected by Spark during the sink write job itself;
- parquet footers of the files each snapshot committed (rows_out per
  output partition) — read driver-side after commit, no data scan.

Schema (FIXTURES.md section 4; min/max keys per SURVEY.md section 4.2):
  lineage(run_id, stage, sink, partition_id, rows_in, rows_out,
          min_key, max_key, wall_ms, committed_at)

min_key/max_key are the conv_id bounds of each committed output file,
read from parquet footer statistics driver-side (no scan) — what an
Iceberg manifest would carry; they let resume/debug tooling locate a
conversation's data without touching row data.
"""

from __future__ import annotations

import json
import os
import time

import pandas as pd

LINEAGE_COLS = [
    "run_id",
    "stage",
    "sink",
    "partition_id",
    "rows_in",
    "rows_out",
    "min_key",
    "max_key",
    "wall_ms",
    "committed_at",
]


class LineageLog:
    """Append-only JSON-lines lineage journal with torn-tail repair.

    Durability model (mirrors the reference's resetStuckInSent
    robustness, store/store.go:887-941): commits APPEND one line per
    record and fsync; a crash mid-append leaves at most one partial
    FINAL line, which readers tolerate (they stop at the last complete
    line — the journal is exactly the prefix that was durably written)
    and the next commit truncates before appending. Appending beats the
    old rewrite-whole-file-and-replace scheme at scale too: commit cost
    is O(new records), not O(history). A torn line anywhere but the
    tail is real corruption and raises."""

    def __init__(self, root: str):
        self.path = os.path.join(root, "_lineage.json")

    def _read(self) -> list[dict]:
        if not os.path.exists(self.path):
            return []
        with open(self.path, "rb") as f:
            raw = f.read()
        lines = raw.split(b"\n")
        recs: list[dict] = []
        for i, line in enumerate(lines):
            if not line.strip():
                continue
            try:
                recs.append(json.loads(line))
            except ValueError:
                if i == len(lines) - 1:
                    break  # torn final line: crash mid-append, tolerated
                raise ValueError(
                    f"lineage journal corrupt at line {i + 1} (not the "
                    "tail) — refusing to silently drop committed records"
                )
        return recs

    def _repair_tail(self) -> None:
        """Re-terminate or truncate an unterminated final line left by
        a crashed append, so the next append starts on a clean line
        boundary. A final line that PARSES as JSON merely lost its
        trailing newline (the crash hit between write and the \\n
        reaching disk) — ``_read`` already counts that record as
        committed, so repair must re-terminate it, never delete it
        (deleting would un-commit a unit previously observable as
        committed). Only an unparseable tail is truncated."""
        if not os.path.exists(self.path):
            return
        with open(self.path, "rb+") as f:
            raw = f.read()
            if not raw or raw.endswith(b"\n"):
                return
            tail = raw[raw.rfind(b"\n") + 1 :]
            try:
                json.loads(tail)
            except ValueError:
                f.truncate(raw.rfind(b"\n") + 1)  # genuinely torn
            else:
                f.write(b"\n")  # complete record: just re-terminate

    def records(self) -> pd.DataFrame:
        recs = self._read()
        return pd.DataFrame(recs, columns=LINEAGE_COLS)

    def committed_units(self) -> set[tuple[str, str, str]]:
        return {(r["run_id"], r["stage"], r["sink"]) for r in self._read()}

    def commit(self, records: list[dict]) -> None:
        now = time.time()
        for r in records:
            r.setdefault("committed_at", now)
            r.setdefault("min_key", "")  # stages without a key column
            r.setdefault("max_key", "")
            missing = set(LINEAGE_COLS) - set(r)
            if missing:
                raise ValueError(f"lineage record missing {missing}")
        os.makedirs(os.path.dirname(self.path), exist_ok=True)
        self._repair_tail()
        with open(self.path, "a") as f:
            f.writelines(json.dumps(r) + "\n" for r in records)
            f.flush()
            os.fsync(f.fileno())


def snapshot_lineage(
    run_id: str,
    stage: str,
    sink: str,
    per_file_stats: list[tuple],
    rows_in: int,
    wall_ms: int,
) -> list[dict]:
    """One lineage record per committed output file (= output partition).
    Accepts (file, rows) or (file, rows, min_key, max_key) tuples.
    An EMPTY snapshot (zero data files — e.g. dead_letter on a run
    with no rejected rows) still yields one zero-row record: the work
    unit must be marked committed or resume bookkeeping
    (all-units-committed checks, staging cleanup) never completes."""
    if not per_file_stats:
        return [
            {
                "run_id": run_id,
                "stage": stage,
                "sink": sink,
                "partition_id": -1,
                "rows_in": rows_in,
                "rows_out": 0,
                "min_key": "",
                "max_key": "",
                "wall_ms": wall_ms,
                "committed_at": time.time(),
            }
        ]
    out = []
    for i, stats in enumerate(per_file_stats):
        _, n = stats[0], stats[1]
        mn = stats[2] if len(stats) > 2 else ""
        mx = stats[3] if len(stats) > 3 else ""
        out.append(
            {
                "run_id": run_id,
                "stage": stage,
                "sink": sink,
                "partition_id": i,
                "rows_in": rows_in,
                "rows_out": n,
                "min_key": mn,
                "max_key": mx,
                "wall_ms": wall_ms,
                "committed_at": time.time(),
            }
        )
    return out
