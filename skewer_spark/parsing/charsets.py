"""Charset transcoding wrapper for the parse kernels.

The reference wraps every text decoder with a configurable charset
transcoder (/root/reference/decoders/decode.go:174-199): RFC3164 /
RFC5424 / W3C sources decode through the charset named in the source
config, JSON-family sources always decode UTF-8, binary sources
(protobuf, collectd) skip transcoding. Supported names
(/root/reference/utils/encoding.go:9-25, after lowercasing and
stripping dashes): utf8, iso88591/latin1, windows1252,
iso885915/latin15; anything else silently falls back to utf8.

Degradation contract — "degrades, never fails", matching the Go
x/text decoders the reference uses:
- charmap codecs (latin-1/cp1252/latin-15) map every byte; cp1252's
  five undefined bytes (0x81 0x8D 0x8F 0x90 0x9D) become U+FFFD.
- invalid UTF-8 becomes one U+FFFD PER INVALID BYTE (Go's
  utf8.DecodeRune consumes one byte per error), not Python's default
  maximal-subpart policy — a custom error handler pins Go parity.

The transcode runs INSIDE the Arrow batch at the bytes->str boundary
(one C-level codec call per value, no Python parsing loop); everything
downstream is the normal vectorized parse cascade.
"""

from __future__ import annotations

import codecs

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from skewer_spark.parsing.arrowparse import parse_batch_arrow
from skewer_spark.parsing.syslog import PARSED_SCHEMA


def _onebyte_replace(exc: UnicodeError):
    # Go utf8 decoder semantics: each bogus byte -> one U+FFFD
    return "�", exc.start + 1  # type: ignore[union-attr]


codecs.register_error("skewer_onebyte", _onebyte_replace)

# normalized reference name -> (python codec, error policy)
_CHARSETS = {
    "utf8": ("utf-8", "skewer_onebyte"),
    "iso88591": ("latin-1", "replace"),
    "latin1": ("latin-1", "replace"),
    "windows1252": ("cp1252", "replace"),
    "iso885915": ("iso8859-15", "replace"),
    "latin15": ("iso8859-15", "replace"),
}


def normalize_charset(coding: str) -> tuple[str, str]:
    """Reference name normalization (encoding.go:10): lowercase, strip
    dashes, unknown -> utf8. Returns (python codec, errors policy)."""
    key = (coding or "").strip().lower().replace("-", "")
    return _CHARSETS.get(key, _CHARSETS["utf8"])


def transcode_series(raw: pd.Series, charset: str) -> pd.Series:
    """bytes Series -> str Series under the named charset; never fails
    (invalid input degrades to U+FFFD per the contract above).
    Degrades, never VANISHES: an already-decoded str passes through
    unchanged (a string-typed column reaching the bytes path would
    otherwise silently map the whole corpus to ''); only NULLs become
    ''."""
    codec, errors = normalize_charset(charset)

    def _one(b):
        if isinstance(b, (bytes, bytearray)):
            return b.decode(codec, errors)
        if isinstance(b, str):
            return b
        return ""

    return raw.map(_one)


def make_parse_bytes_udf(charset: str = "utf8", mode: str = "auto"):
    """Arrow-batched struct UDF over (raw BINARY, ingest_us BIGINT):
    transcode inside the batch, then run ``parse_batch_arrow`` — the
    batch analog of parserWithEncoding (decode.go:174-185)."""

    @F.pandas_udf(PARSED_SCHEMA)
    def parse_bytes(raw: pd.Series, ingest_us: pd.Series) -> pd.DataFrame:
        text = transcode_series(raw, charset)
        return parse_batch_arrow(text, ingest_us, mode=mode)

    return parse_bytes.asNondeterministic()  # same rationale as make_parse_udf


def parse_transcripts_bytes(
    df: DataFrame,
    bytes_col: str = "raw",
    ts_col: str = "ts",
    charset: str = "utf8",
    mode: str = "auto",
) -> DataFrame:
    """transcripts with a BINARY payload column -> parsed columns,
    transcoding from the named charset first."""
    udf = make_parse_bytes_udf(charset, mode)
    parsed = df.withColumn(
        "_p", udf(F.col(bytes_col), F.unix_micros(F.col(ts_col).cast("timestamp")))
    )
    return parsed.select("*", "_p.*").drop("_p")
