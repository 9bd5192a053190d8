"""The production parse kernel must agree exactly with the reference:
- parsing/syslog.py     ``parse_batch``, pandas (the semantic reference)
- parsing/arrowparse.py ``parse_batch_arrow``, Arrow/RE2 (the pipeline kernel)
both in process and through the Spark UDF (``parse_transcripts``).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from skewer_spark.parsing import parse_transcripts
from skewer_spark.parsing.arrowparse import parse_batch_arrow
from skewer_spark.parsing.syslog import parse_batch

JUNK = [
    "", " ", "<", "<>", "<999999999999999999999>x", "a b c d e f g",
    "<1>1", "<5>x", "<34>Oct", "<34>Oct 11", "<34>9",
    "<34>2019-08-16T12:00:00+02:00 h app: b",
    "<34>Oct 11 22:14:15 myhost app[1]:", "<34>Oct 11 22:14:15 h TAG[7 m x",
    '<165>1 2003-10-11T22:14:15Z host app - - [a b="c\\]d"]',
    '<165>1 - h a - - [s1 k="v"][s2 x="y" z="w"] msg',
    "<165>1 NOT-A-TIME h a - - - msg",
    "<13>Oct 11 22:14:15 10.0.0.1 app[9]: body",
    "<34>2019-13-99T99:00:00Z myhost app: body", "no pri", "<12a>x",
    "<999>Oct 11 22:14:15 h app: x", "<0>",
    # PRI digit-string edges: leading zeros are valid (Go Atoi), int32
    # overflow is fallback, and an int64-overflowing row must not
    # corrupt other rows in the same batch (float64 to_numeric fallback)
    "<0000000000000000007>x", "<000>y", "<2147483647>x", "<2147483648>x",
    "<99999999999>x", "<9223372036854775807>x",
    # timestamp year-gate edges (syslog.TS_YEAR_MIN/MAX = 1678/2250):
    # out-of-range years must be a parse failure in EVERY kernel — the
    # pandas reference is bounded by datetime64[ns], the arithmetic
    # kernels are not, and this pins the shared gate
    "<13>2500-01-01T00:00:00Z host app: msg",
    "<13>1500-01-01T00:00:00Z host app: msg",
    "<165>1 2500-01-01T00:00:00Z h a - - - msg",
    "<165>1 1677-12-31T23:59:59Z h a - - - msg",
    "<165>1 2262-01-01T00:00:00Z h a - - - msg",
    "<13>2250-12-31T23:59:59.999999Z host app: msg",  # last accepted year
    "<13>1678-01-01T00:00:00Z host app: msg",  # first accepted year
    "<13>2251-01-01T00:00:00Z host app: msg",  # first rejected year
    "<13>999-01-01T00:00:00Z host app: msg",  # 3-digit year
    # bytes.Split token semantics (the reference PRESERVES empty tokens
    # on consecutive spaces), real calendar validation, and 1-2 digit
    # stamp days: inputs where the kernels previously disagreed
    "<13>2024-01-01T00:00:00Z host  app: hello",  # double space remainder
    "<13>2024-01-01T00:00:00Z  x",                # leading empty token
    "<13>2024-01-01T00:00:00Z a  b c",
    "<13>2024-01-01T00:00:00Z a b  c",
    "<13>2024-02-30T00:00:00Z host app: hi",      # calendar-invalid date
    "<13>2024-04-31T00:00:00Z host app: hi",
    "<13>Feb 30 12:00:00 host app: hi",           # calendar-invalid stamp
    "<13>Feb 29 12:00:00 host app: hi",           # leap day, non-leap backfill yr
    "<13>Jan 5 03:04:05 host app: hi",            # single-digit day (accepted)
    "<13>Jan  5 03:04:05 host app: hi",           # space-padded day (token-split fails)
]


def _assert_frames_equal(a: pd.DataFrame, b: pd.DataFrame, ctx: str):
    for c in a.columns:
        eq = a[c].astype(str).values == b[c].astype(str).values
        assert eq.all(), (ctx, c, np.where(~eq)[0][:5])


def _ingest_us(ts: pd.Series) -> pd.Series:
    return pd.to_datetime(ts).dt.as_unit("us").astype("int64")


def test_arrowparse_equals_reference_on_corpus(transcripts_pdf):
    tr = transcripts_pdf
    ing = _ingest_us(tr["ts"])
    _assert_frames_equal(
        parse_batch(tr["text"], ing), parse_batch_arrow(tr["text"], ing), "corpus"
    )


def test_arrowparse_equals_reference_on_junk():
    s = pd.Series(JUNK)
    ing = pd.Series([1_700_000_000_000_000] * len(s))
    _assert_frames_equal(parse_batch(s, ing), parse_batch_arrow(s, ing), "junk")


PARSED_COLS = [
    "priority", "facility", "severity", "version", "time_reported",
    "time_generated", "hostname", "appname", "procid", "msgid",
    "structured", "message", "props_flat", "parse_format", "parse_error",
]


def test_parse_transcripts_equals_reference(spark, sf_dir, transcripts_pdf):
    # the production path end to end: the pandas UDF, the struct
    # expansion and the unix_micros(ts) ingest column, row by row
    from skewer_spark.datagen import ensure_transcripts

    key = ["conv_id", "turn_idx"]
    df = spark.read.parquet(ensure_transcripts(sf_dir))
    got = (
        parse_transcripts(df).select(*key, *PARSED_COLS).toPandas()
        .sort_values(key).reset_index(drop=True)
    )
    tr = transcripts_pdf.sort_values(key).reset_index(drop=True)
    want = parse_batch(tr["text"], _ingest_us(tr["ts"]))
    assert (got[key].to_numpy() == tr[key].to_numpy()).all()
    _assert_frames_equal(want, got[PARSED_COLS], "parse_transcripts corpus")


def test_parse_transcripts_junk_lines(spark):
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(str(i), 0, "", t, "") for i, t in enumerate(JUNK)],
        "conv_id string, turn_idx int, role string, text string, tool string",
    ).withColumn("ts", F.timestamp_micros(F.lit(1_700_000_000_000_000)))
    got = (
        parse_transcripts(df).select("conv_id", *PARSED_COLS).toPandas()
        .sort_values("conv_id", key=lambda s: s.astype(int))
        .reset_index(drop=True)
    )
    want = parse_batch(pd.Series(JUNK), pd.Series([1_700_000_000_000_000] * len(JUNK)))
    _assert_frames_equal(want, got[PARSED_COLS], "parse_transcripts junk")


def test_kernels_survive_hostile_ingest_years():
    # an ingest timestamp past datetime64[ns] (2262) or datetime.max
    # (9999) previously CRASHED the pandas and arrow kernels
    # (pd.to_datetime OutOfBoundsDatetime) during stamp-year backfill;
    # both must degrade the stamp rows identically instead
    lines = [
        "<13>Jan 05 03:04:05 host app: hi",   # needs year backfill
        "<13>2024-01-01T00:00:00Z host app: hi",  # no backfill needed
        "<13>hello world",
    ]
    for ing_us in (int(3e17), int(8e18), -int(3e17)):  # years ~11476, ~255k, ~-7500
        ing = pd.Series([ing_us] * len(lines), dtype="int64")
        a = parse_batch(pd.Series(lines), ing)
        b = parse_batch_arrow(pd.Series(lines), ing)
        _assert_frames_equal(a, b, f"arrow ing={ing_us}")
        # the stamp row degrades (whole rest in message, ingest time)
        assert a["message"][0] == "Jan 05 03:04:05 host app: hi"
        assert a["time_reported"][0] == ing_us
