"""The workloads. Each one prepares its seeded inputs and cached
reference (benchmark-side), runs a small first operation that is part
of every set-up, primes to steady state, and runs a timed window of
operations whose outputs are checked against the reference outside the
timed part.

* spine: one ``Pipeline.run`` per pass over the whole transcript table
  into a fresh warehouse; an op is a pass.
* curation: ``curate_pack`` into the noop sink; an op is a pass, checked
  through an ``observe()`` fingerprint collected by the same job.
"""

from __future__ import annotations

import itertools
import os
import shutil
import time
from contextlib import nullcontext
from dataclasses import dataclass, field

import pyarrow.parquet as pq

import inputs
import reference as ref
from measure import host_steal_s, tree_cpu_s
from sparkstats import PHASE_PROP


PRIME_OPS = 3  # untimed full ops before the window (see README: drift)

# An op during which the hypervisor took more than this share of the
# VM's CPU time (steal, from /proc/stat) is not measured: on a shared host
# such bursts slow a 4-core pass by up to 40% for minutes at a time while
# a one-thread control barely moves (see README).
STEAL_MAX = 0.05
WINDOW_CAP = 2.0  # ...but the window ends at this many times --seconds


@dataclass
class Window:
    """Per-op wall (ms), process-tree CPU (s), input rows and steal share;
    checks are outside the timed part."""

    op_ms: list[float] = field(default_factory=list)
    op_cpu_s: list[float] = field(default_factory=list)
    op_rows: list[int] = field(default_factory=list)
    op_steal: list[float] = field(default_factory=list)
    failed: int = 0
    traced_ms: list[float] = field(default_factory=list)  # ops run with spans on
    untraced_ms: list[float] = field(default_factory=list)

    @property
    def attempted(self) -> int:
        return len(self.op_ms)

    def clean(self) -> list[int]:
        return [i for i, s in enumerate(self.op_steal) if s <= STEAL_MAX]

    def measured(self) -> list[int]:
        """Indices of the ops the metrics use: those within ``STEAL_MAX``,
        or every op when none is."""
        return self.clean() or list(range(self.attempted))

    def more(self, seconds: float) -> bool:
        """Another op is due: under ``seconds`` of measured time (and
        under ``WINDOW_CAP`` times that in all), or fewer than two ops
        (one traced and one untraced when tracing)."""
        if self.attempted < 2:
            return True
        clean_s = sum(self.op_ms[i] for i in self.clean()) / 1e3
        return clean_s < seconds and self.wall_s < WINDOW_CAP * seconds

    @property
    def wall_s(self) -> float:
        return sum(self.op_ms) / 1e3

    def add(
        self, wall_s: float, cpu_s: float, rows: int, ok: bool, traced: bool,
        steal: float = 0.0,
    ):
        self.op_ms.append(wall_s * 1e3)
        self.op_cpu_s.append(cpu_s)
        self.op_rows.append(rows)
        self.op_steal.append(steal)
        self.failed += not ok
        (self.traced_ms if traced else self.untraced_ms).append(wall_s * 1e3)


def set_phase(spark, phase: str | None) -> None:
    spark.sparkContext.setLocalProperty(PHASE_PROP, phase)


class Workload:
    name = ""
    unit = ""

    def __init__(self, work_dir: str, seed: int):
        self.work_dir = work_dir
        self.seed = seed
        self._ids = itertools.count()

    def scratch(self, kind: str) -> str:
        path = os.path.join(self.work_dir, f"{kind}{next(self._ids)}")
        shutil.rmtree(path, ignore_errors=True)
        return path

    def prepare(self) -> None:
        raise NotImplementedError

    def first_op(self, spark) -> None:
        """The small operation every set-up ends with."""
        raise NotImplementedError

    def op(self, spark, check: bool = True) -> tuple[float, float, int, bool]:
        """One full operation: (wall_s, cpu_s, input rows, output correct);
        ``check=False`` skips the reference check (prime ops)."""
        raise NotImplementedError

    def prime(self, spark) -> None:
        for _ in range(PRIME_OPS):
            self.op(spark, check=False)

    def window(self, spark, seconds: float, spans) -> Window:
        """Ops back to back for ``seconds`` of measured time; with spans,
        every second op is traced. An op's steal share covers the op and
        its check."""
        w = Window()
        while w.more(seconds):
            traced = spans is not None and w.attempted % 2 == 1
            if spans is not None:
                spans.enabled = traced
            steal0, t0 = host_steal_s(), time.perf_counter()
            with spans.span(f"{self.name}.op") if traced else nullcontext():
                res = self.op(spark)
            steal = (host_steal_s() - steal0) / (
                (time.perf_counter() - t0) * os.cpu_count()
            )
            w.add(*res, traced, steal)
        if spans is not None:
            spans.enabled = False
        return w


# ------------------------------------------------------------ spine
def warehouse_digest(warehouse: str, sinks: list[str]) -> dict[str, list[int]]:
    """{sink: [rows, hash]} of what a warehouse's sink tables hold."""
    from skewer_spark.icelite import IceLiteTable

    out = {}
    for sink in sinks:
        files = IceLiteTable(warehouse, sink).data_files()
        if not files:
            continue
        df = pq.ParquetDataset(files).read(columns=ref.HASH_COLS).to_pandas()
        out[sink] = [len(df), ref.row_hash_sum(df)]
    return out


def all_sinks() -> list[str]:
    from skewer_spark.routing import rules as R

    return [r.sink for r in R.DEFAULT_RULES] + [R.DEAD_LETTER_SINK]


class Spine(Workload):
    name, unit = "spine", "turns"

    def prepare(self) -> None:
        self.dir = inputs.transcripts(self.seed)
        self.files = inputs.transcript_files(self.dir)
        self.ref = ref.spine_reference(self.dir, self.files)

    def op(self, spark, check: bool = True) -> tuple[float, float, int, bool]:
        from skewer_spark.pipeline import Pipeline

        df = spark.read.parquet(self.dir)
        wh = self.scratch("warehouse")
        c0, t0 = tree_cpu_s(), time.perf_counter()
        res = Pipeline(spark, wh).run(df, run_id="pass")
        wall, cpu = time.perf_counter() - t0, tree_cpu_s() - c0
        ok = not check or not ref.digest_mismatches(
            warehouse_digest(wh, all_sinks()), self.ref
        )
        shutil.rmtree(wh, ignore_errors=True)
        return wall, cpu, res.rows_in, ok

    def first_op(self, spark) -> None:
        from skewer_spark.parsing import parse_transcripts

        df = spark.read.parquet(self.files[0])
        parse_transcripts(df).write.format("noop").mode("overwrite").save()


# ---------------------------------------------------------- curation
class Curation(Workload):
    name, unit = "curation", "docs"

    def prepare(self) -> None:
        self.dir = inputs.corpus(self.seed)
        self.small = inputs.corpus(self.seed, copies=1)
        self.ref = ref.curation_reference(self.dir)
        self.docs = inputs.DOC_BASE * inputs.DOC_COPIES  # input rows per pass

    def _pass(self, spark, corpus_dir: str) -> tuple[float, float, dict]:
        """(wall_s, cpu_s, output fingerprint)."""
        from pyspark.sql import Observation
        from skewer_spark.ops.curation import curate_pack

        obs = Observation(f"fp{next(self._ids)}")
        c0, t0 = tree_cpu_s(), time.perf_counter()
        out = curate_pack(spark, corpus_dir).observe(
            obs, *ref.spark_fingerprint_exprs()
        )
        out.write.format("noop").mode("overwrite").save()
        wall, cpu = time.perf_counter() - t0, tree_cpu_s() - c0
        return wall, cpu, obs.get

    def first_op(self, spark) -> None:
        self._pass(spark, self.small)

    def op(self, spark, check: bool = True) -> tuple[float, float, int, bool]:
        wall, cpu, fp = self._pass(spark, self.dir)
        ok = not check or not ref.fingerprint_mismatches(fp, self.ref)
        return wall, cpu, self.docs, ok


WORKLOADS = {w.name: w for w in (Spine, Curation)}
