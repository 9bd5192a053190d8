"""Vectorized composite syslog decoder (RFC3164 + RFC5424 + no-fail fallback).

Semantics are a faithful re-expression of the reference decoders:

- RFC3164 cascade: /root/reference/decoders/rfc3164_format.go:28-194.
  The parser NEVER fails — unparseable input degrades to the whole line in
  ``message`` with facility/severity 0 and ingest-time timestamps
  (rfc3164_format.go:31-53).  pri/8 -> facility, pri%8 -> severity
  (rfc3164_format.go:55-57).  Known reference quirks reproduced on
  purpose: the two-token branch that tag-parses s[0] when s[1] looks like
  a tag (rfc3164_format.go:142-147), and tag-detection firing on IPv6
  hostnames in the >=3-token branch (rfc3164_format.go:154).
- RFC5424: grammar semantics of /root/reference/grammars/rfc5424/RFC5424.g4
  via the listener /root/reference/decoders/rfc5424_format.go:110-230:
  '-' nil fields -> empty string, SD params -> two-level properties,
  parse failure IS an error (unlike 3164) -> ``parse_error`` flag
  (maps to skw_parsing_errors_total, services/base/metrics.go:33-39).
- Format dispatch: the reference selects the decoder from per-source
  config (decoders/decode.go:19-30); the graft auto-detects: ``<PRI>1 ``
  prefix -> RFC5424, else RFC3164 cascade.

Implementation: ``parse_batch`` here is the semantic reference — the
whole cascade in pandas ``.str`` vectorized ops, readable branch by
branch against the Go source. Tests compare the production kernel,
``arrowparse.parse_batch_arrow`` (RE2/numpy, what ``make_parse_udf``
runs inside the Arrow-batched pandas UDF), against it row by row.

Deviations from the reference (documented, deterministic):
- ``Mmm dd`` year backfill uses the row's ingest ``ts`` year instead of
  wall-clock ``time.Now().Year()`` (rfc3164_format.go:107) so results are
  reproducible.
- now()-defaults for missing timestamps use ingest ``ts`` instead of
  wall clock (rfc3164_format.go:35-38).
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

PARSED_SCHEMA = StructType(
    [
        StructField("priority", IntegerType(), False),
        StructField("facility", IntegerType(), False),
        StructField("severity", IntegerType(), False),
        StructField("version", IntegerType(), False),
        StructField("time_reported", LongType(), False),  # epoch micros (UTC)
        StructField("time_generated", LongType(), False),  # epoch micros (UTC)
        StructField("hostname", StringType(), False),
        StructField("appname", StringType(), False),
        StructField("procid", StringType(), False),
        StructField("msgid", StringType(), False),
        StructField("structured", StringType(), False),
        StructField("message", StringType(), False),
        StructField("props_flat", StringType(), False),  # sorted 'sid|k=v' lines
        StructField("parse_format", StringType(), False),  # rfc3164|rfc5424|fallback
        StructField("parse_error", BooleanType(), False),
    ]
)

_PRI_RE = r"^<(\d+)>(.*)$"
# version SP ts SP host SP app SP procid SP msgid SP (SD|-) [SP msg]
_SD_BLOCK = r"(?:\[(?:\\\]|[^\]])*\])+"
_R5424_RE = r"^1 (\S+) (\S+) (\S+) (\S+) (\S+) (-|" + _SD_BLOCK + r")( (.*))?$"
_SD_ELEM_RE = re.compile(r"\[([^ \]]+)((?:\\\]|[^\]])*)\]")
_SD_PARAM_RE = re.compile(r'([^ =\[\]]+)="((?:[^"\\]|\\.)*)"')
# canonical props_flat stores UNESCAPED param values (the reference's
# SetProperty stores the logical value, model/types.go:497-512); the
# RFC5424 encoder re-applies escapeSDParam escaping exactly once
_SD_UNESC = re.compile(r'\\(.)')
_TAG_RE = r"^([^\[]*)(?:\[([^\]]*)\]?.*)?$"
_HOSTNAME_RE = r"^[A-Za-z0-9.:_\-]+$"

_TS_FORMATS = [
    "%Y-%m-%dT%H:%M:%S.%fZ",
    "%Y-%m-%dT%H:%M:%SZ",
    "%Y-%m-%dT%H:%M:%S.%f%z",
    "%Y-%m-%dT%H:%M:%S%z",
]


def _to_us(dt: pd.Series) -> pd.Series:
    """datetime series -> epoch micros, robust to pandas unit resolution."""
    return dt.dt.tz_convert("UTC").dt.as_unit("us").astype("int64")


# Supported year range for RFC3339 timestamps (both kernels + oracle).
# Inside datetime64[ns] (1677-09-21..2262-04-11) AND the float64-exact
# epoch-micros range (|us| < 2^53 ~ year 2255), so the pandas reference
# (datetime64[ns]), the arrow kernel (integer civil arithmetic) and
# DuckDB all represent every accepted value exactly and reject the
# same lines. Out-of-range years are a parse failure everywhere (the
# 3164 cascade degrades, 5424 errors), pinning the cross-kernel
# equality contract on attacker-controllable input. The reference's Go
# time.Parse accepts any year; bounding is a documented deviation
# (COVERAGE.md) chosen over silently divergent kernels.
TS_YEAR_MIN, TS_YEAR_MAX = 1678, 2250


def _try_ts_formats(s: pd.Series) -> pd.Series:
    """RFC3339-ish parse returning epoch micros (NaN on failure)."""
    out = pd.Series(np.nan, index=s.index, dtype="float64")
    yr = pd.to_numeric(s.str.slice(0, 4), errors="coerce")
    pending = s.notna() & (s != "") & yr.between(TS_YEAR_MIN, TS_YEAR_MAX)
    for fmt in _TS_FORMATS:
        if not pending.any():
            break
        parsed = pd.to_datetime(s[pending], format=fmt, errors="coerce", utc=True)
        ok = parsed.notna()
        if ok.any():
            vals = _to_us(parsed[ok])
            out.loc[vals.index] = vals.astype("float64")
            pending.loc[vals.index] = False
    return out


_DAY_US = 86_400_000_000


def year_from_epoch_us(us) -> np.ndarray:
    """Vectorized UTC year of epoch-microseconds via integer civil
    arithmetic (Hinnant's civil_from_days) — no datetime64[ns] bounds,
    so a hostile ingest timestamp far outside 1677-2262 cannot crash
    the kernels the way pd.to_datetime(unit='us') does."""
    z = np.floor_divide(np.asarray(us, dtype=np.int64), _DAY_US) + 719468
    era = np.floor_divide(np.where(z >= 0, z, z - 146096), 146097)
    doe = z - era * 146097
    yoe = (doe - doe // 1460 + doe // 36524 - doe // 146096) // 365
    y = yoe + era * 400
    mp = (5 * (doe - (365 * yoe + yoe // 4 - yoe // 100)) + 2) // 153
    m = mp + np.where(mp < 10, 3, -9)
    return (y + (m <= 2)).astype(np.int64)


def _contains_tagchar(s: pd.Series) -> pd.Series:
    # bytes.ContainsAny(x, "[]:")  (rfc3164_format.go:127,136,142,154)
    return s.str.contains(r"[\[\]:]", regex=True, na=False)


def _parse_tag(tag: pd.Series, res: pd.DataFrame, mask: pd.Series) -> None:
    """parseTag semantics (rfc3164_format.go:168-185) onto res rows in mask."""
    if not mask.any():
        return
    t = tag[mask].str.strip(":")
    m = t.str.extract(_TAG_RE, flags=re.DOTALL)
    res.loc[mask, "appname"] = m[0].fillna(t).values
    res.loc[mask, "procid"] = m[1].fillna("").values


def parse_batch(text: pd.Series, ingest_us: pd.Series) -> pd.DataFrame:
    """Parse one Arrow batch of raw lines. Pure function (testable sans Spark)."""
    t = text.fillna("").str.strip().reset_index(drop=True)
    ing = pd.to_numeric(ingest_us, errors="coerce").fillna(0).astype("int64").reset_index(drop=True)
    n = len(t)
    res = pd.DataFrame(
        {
            "priority": np.zeros(n, dtype="int32"),
            "facility": np.zeros(n, dtype="int32"),
            "severity": np.zeros(n, dtype="int32"),
            "version": np.zeros(n, dtype="int32"),
            "time_reported": ing.to_numpy(copy=True),
            "time_generated": ing.to_numpy(copy=True),
            "hostname": [""] * n,
            "appname": [""] * n,
            "procid": [""] * n,
            "msgid": [""] * n,
            "structured": [""] * n,
            "message": t.to_numpy(copy=True),  # fallback default: whole line
            "props_flat": [""] * n,
            "parse_format": ["fallback"] * n,
            "parse_error": np.zeros(n, dtype="bool"),
        }
    )

    prim = t.str.extract(_PRI_RE, flags=re.DOTALL)
    # Go Atoi contract (leading zeros fine, overflow -> error -> fallback).
    # Strip zeros + length-guard BEFORE to_numeric: a single int64-
    # overflowing digit string would flip to_numeric to float64 for the
    # whole column and corrupt other rows' values (19+ digit strings
    # lose integer precision as doubles).
    p0 = prim[0].str.lstrip("0")
    pri = pd.to_numeric(p0.where(p0.str.len() <= 10), errors="coerce")
    pri[prim[0].notna() & (p0 == "")] = 0  # all-zero PRI is a valid 0
    has_pri = pri.notna()
    if not has_pri.any():
        return res

    # model.Priority is int32 (pri div/mod 8, rfc3164_format.go:55-57)
    has_pri = has_pri & (pri <= 2**31 - 1)
    pri_i = pri[has_pri].astype("int64")
    res.loc[has_pri, "priority"] = pri_i.astype("int32").values
    res.loc[has_pri, "facility"] = (pri_i // 8).astype("int32").values
    res.loc[has_pri, "severity"] = (pri_i % 8).astype("int32").values
    rest = prim[1].str.strip().fillna("")

    is5424 = has_pri & rest.str.match(r"^1 ", na=False)
    is3164 = has_pri & ~is5424

    # ---------------- RFC5424 ----------------
    if is5424.any():
        res.loc[is5424, "parse_format"] = "rfc5424"
        res.loc[is5424, "message"] = ""
        m = rest[is5424].str.extract(_R5424_RE, flags=re.DOTALL)
        ok = m[0].notna()
        okx = ok[ok].index
        badx = ok[~ok].index
        res.loc[badx, "parse_error"] = True
        if len(okx):
            res.loc[okx, "version"] = 1
            nil = lambda col: m.loc[okx, col].where(m.loc[okx, col] != "-", "")
            res.loc[okx, "hostname"] = nil(1).values
            res.loc[okx, "appname"] = nil(2).values
            res.loc[okx, "procid"] = nil(3).values
            res.loc[okx, "msgid"] = nil(4).values
            sd = m.loc[okx, 5]
            res.loc[okx, "structured"] = sd.where(sd != "-", "").values
            res.loc[okx, "message"] = m.loc[okx, 7].fillna("").values
            tsc = m.loc[okx, 0]
            dash = tsc == "-"
            tsp = _try_ts_formats(tsc.where(~dash, ""))
            tfail = ~dash & tsp.isna()
            res.loc[tfail[tfail].index, "parse_error"] = True
            tok = tsp.notna()
            res.loc[tok[tok].index, "time_reported"] = tsp[tok].astype("int64").values
            # SD params -> sorted 'sid|k=v' lines (SetProperty,
            # /root/reference/model/types.go:497-512). SetProperty is a
            # map OVERWRITE, so a param name repeated within a message
            # keeps only its LAST occurrence — dedup on 'sid|name' in
            # occurrence order BEFORE sorting (RFC5424 allows repeats;
            # dedup-after-sort would keep the lexicographically
            # greatest value instead of the last one).
            with_sd = sd[(sd != "-") & (sd != "")]
            if len(with_sd):
                flat = []
                for raw in with_sd:
                    props: dict[str, str] = {}
                    for elem_m in _SD_ELEM_RE.finditer(raw):
                        sid, params = elem_m.group(1), elem_m.group(2)
                        for pm in _SD_PARAM_RE.finditer(params):
                            v = _SD_UNESC.sub(r'\1', pm.group(2))
                            props[f"{sid}|{pm.group(1)}"] = v
                    flat.append("\n".join(sorted(f"{k}={v}" for k, v in props.items())))
                res.loc[with_sd.index, "props_flat"] = flat

    # ---------------- RFC3164 ----------------
    if is3164.any():
        res.loc[is3164, "parse_format"] = "rfc3164"
        r = rest[is3164]
        empty = r == ""
        res.loc[empty[empty].index, "message"] = ""
        r = r[~empty]
        if len(r):
            starts_digit = r.str.match(r"^[0-9]", na=False)
            rem = pd.Series("", index=r.index)

            # RFC3339 branch (rfc3164_format.go:70-90)
            d = r[starts_digit]
            if len(d):
                sp = d.str.extract(r"^(\S+)( (.*))?$", flags=re.DOTALL)
                tsp = _try_ts_formats(sp[0])
                ok = tsp.notna()
                res.loc[ok[ok].index, "time_reported"] = tsp[ok].astype("int64").values
                res.loc[ok[ok].index, "message"] = ""
                rem.loc[ok[ok].index] = sp.loc[ok[ok].index, 2].fillna("")
                fail = ~ok
                res.loc[fail[fail].index, "message"] = d[fail].values
                rem.loc[fail[fail].index] = ""

            # old unix timestamp branch (rfc3164_format.go:92-114)
            u = r[~starts_digit]
            if len(u):
                sp = u.str.extract(r"^([^ ]+ [^ ]+ [^ ]+)( (.*))?$", flags=re.DOTALL)
                have3 = sp[0].notna()
                # integer-arithmetic year (not pd.to_datetime, whose
                # ns bounds CRASH on ingest timestamps past 2262);
                # stamps share the RFC3339 year gate so every kernel
                # accepts/rejects the same backfill years
                yr_num = year_from_epoch_us(ing.reindex(u.index).to_numpy())
                year = pd.Series(yr_num, index=u.index).astype(str)
                yr_in = pd.Series(
                    (yr_num >= TS_YEAR_MIN) & (yr_num <= TS_YEAR_MAX),
                    index=u.index,
                )
                stamp = pd.to_datetime(
                    year + " " + sp[0].fillna(""),
                    format="%Y %b %d %H:%M:%S",
                    errors="coerce",
                    utc=True,
                )
                ok = have3 & stamp.notna() & yr_in
                okidx = ok[ok].index
                res.loc[okidx, "time_reported"] = _to_us(stamp[ok]).values
                res.loc[okidx, "message"] = ""
                rem.loc[okidx] = sp.loc[okidx, 2].fillna("")
                # parse failure -> message = whole rest (rfc3164_format.go:101-105)
                failidx = ok[~ok].index
                res.loc[failidx, "message"] = u[~ok].values
                rem.loc[failidx] = ""

            # token cascade after the timestamp
            rem = rem.fillna("")
            has_rem = rem != ""
            rr = rem[has_rem]
            if len(rr):
                nsp = rr.str.count(" ")

                one = rr[nsp == 0]
                res.loc[one.index, "message"] = one.values

                two = rr[nsp == 1]
                if len(two):
                    # [^ ]* not [^ ]+: the reference tokenizes with
                    # bytes.Split, which PRESERVES empty tokens on
                    # consecutive spaces — a nonempty-token regex fails
                    # to match 'host  tag' and would leak NaN into the
                    # non-null schema (this keeps the kernels equal)
                    tp = two.str.extract(r"^([^ ]*) (.*)$", flags=re.DOTALL)
                    t0, t1 = tp[0], tp[1]
                    ipish = (t0.str.count(":") == 7) | (t0.str.count(r"\.") == 3)
                    t1tag = _contains_tagchar(t1)
                    t0tag = _contains_tagchar(t0)
                    # rfc3164_format.go:124-135
                    m_a = ipish & t1tag
                    res.loc[m_a[m_a].index, "hostname"] = t0[m_a].values
                    _parse_tag(t1, res, m_a.reindex(res.index, fill_value=False))
                    m_b = ipish & ~t1tag
                    res.loc[m_b[m_b].index, "hostname"] = t0[m_b].values
                    res.loc[m_b[m_b].index, "message"] = t1[m_b].values
                    # rfc3164_format.go:136-141
                    m_c = ~ipish & t0tag
                    _parse_tag(t0, res, m_c.reindex(res.index, fill_value=False))
                    res.loc[m_c[m_c].index, "message"] = t1[m_c].values
                    # rfc3164_format.go:142-147 (reference tag-parses s[0] here)
                    m_d = ~ipish & ~t0tag & t1tag
                    res.loc[m_d[m_d].index, "hostname"] = t0[m_d].values
                    _parse_tag(t0, res, m_d.reindex(res.index, fill_value=False))
                    # rfc3164_format.go:148-151
                    m_e = ~ipish & ~t0tag & ~t1tag
                    res.loc[m_e[m_e].index, "appname"] = t0[m_e].values
                    res.loc[m_e[m_e].index, "message"] = t1[m_e].values

                many = rr[nsp >= 2]
                if len(many):
                    # empty tokens preserved — see the two-token branch
                    mp = many.str.extract(r"^([^ ]*) ([^ ]*) (.*)$", flags=re.DOTALL)
                    t0, t1, r2 = mp[0], mp[1], mp[2]
                    hostlike = t0.str.match(_HOSTNAME_RE, na=False)
                    tagfirst = _contains_tagchar(t0) | ~hostlike
                    # rfc3164_format.go:154-159 (hostname omitted)
                    m_f = tagfirst
                    _parse_tag(t0, res, m_f.reindex(res.index, fill_value=False))
                    res.loc[m_f[m_f].index, "message"] = (
                        t1[m_f] + " " + r2[m_f]
                    ).values
                    # rfc3164_format.go:161-163
                    m_g = ~tagfirst
                    res.loc[m_g[m_g].index, "hostname"] = t0[m_g].values
                    _parse_tag(t1, res, m_g.reindex(res.index, fill_value=False))
                    res.loc[m_g[m_g].index, "message"] = r2[m_g].values

    return res


def make_parse_udf():
    """Arrow-batched struct-returning pandas UDF over (text, ingest_us),
    running the production kernel ``arrowparse.parse_batch_arrow``."""
    # local import: arrowparse imports this module's timestamp helpers
    from skewer_spark.parsing.arrowparse import parse_batch_arrow

    @F.pandas_udf(PARSED_SCHEMA)
    def parse_syslog(text: pd.Series, ingest_us: pd.Series) -> pd.DataFrame:
        return parse_batch_arrow(text, ingest_us)

    # The parse IS deterministic, but declaring it nondeterministic stops
    # Catalyst from duplicating the (expensive) UDF when a downstream
    # filter references its output — otherwise the filter is pushed below
    # the struct-expanding Project and the whole parse runs twice.
    return parse_syslog.asNondeterministic()


# --- canonical 'sid|name=value' line extraction (shared fragments) ---
# sid = FIRST '|' segment; name = last '|' segment before the FIRST
# '='; value = everything after the first '='. The rfc5424_encodable
# gate, the SD re-encoder and the properties-map builders on BOTH
# engines must apply these exact rules — always build the SQL from
# these helpers, never inline the spelling: a drifted copy silently
# breaks gate/encoder agreement (encoders.py consumes all six; the
# Column-API gate in encoders.rfc5424_encodable mirrors them with
# F.split_part/F.substring_index because its \x.. regexes cannot pass
# through a SQL string literal).


def sd_sid_spark(l: str) -> str:
    return f"split_part({l}, '|', 1)"


def sd_sid_duck(l: str) -> str:
    return f"string_split({l}, '|')[1]"


def sd_key_spark(l: str) -> str:
    return f"substring_index(substring_index({l}, '=', 1), '|', -1)"


def sd_key_duck(l: str) -> str:
    return f"split_part(split_part({l}, '=', 1), '|', -1)"


def sd_val_spark(l: str) -> str:
    return f"substring({l}, instr({l}, '=') + 1)"


def sd_val_duck(l: str) -> str:
    return f"substr({l}, strpos({l}, '=') + 1)"


def properties_map(col: str = "props_flat"):
    """Canonical 'sid|k=v' lines -> the reference's two-level
    ``map<string, map<string,string>>`` Properties column
    (model/types.pb.go:72-86; accessors model/types.go:458-541).

    The flat sorted-line form is the engine's internal canonical
    representation (map ordering can't leak into equality checks); this
    materializes the MapType view for API parity. Keys within a domain
    are unique by construction — every parse kernel dedups on
    (sid, name) with SetProperty last-write-wins semantics
    (model/types.go:497-512). The one residual duplicate source is a
    '|' smuggled into a property name via a JSON-ish decoder making two
    distinct lines EXTRACT to the same (sid, name); the session's
    ``spark.sql.mapKeyDedupPolicy=LAST_WIN`` keeps the later sorted
    line then, matching the DuckDB twin's keep-last filter."""
    lines = f"split({col}, '\\n')"
    # array_sort, not just array_distinct: lines are sorted by FULL
    # line text, and 'a!b|…' < 'a|…' although sid 'a' < sid 'a!b'
    # ('!' 0x21 < '|' 0x7c), so first-occurrence order of sids is not
    # sid-sorted order. The DuckDB twin (encoders._props_map_sql)
    # list_sorts its sid list; the map key order must match for
    # to_json byte parity.
    sids = (
        f"array_sort(array_distinct(transform({lines}, "
        f"l -> {sd_sid_spark('l')})))"
    )
    flt = f"filter({lines}, l -> {sd_sid_spark('l')} = sid)"
    inner = (
        f"map_from_arrays("
        f"transform({flt}, l -> {sd_key_spark('l')}), "
        f"transform({flt}, l -> {sd_val_spark('l')}))"
    )
    return F.expr(
        f"CASE WHEN {col} = '' THEN map() "
        f"ELSE map_from_arrays({sids}, transform({sids}, sid -> {inner})) END"
    )


def parse_transcripts(df: DataFrame, text_col: str = "text", ts_col: str = "ts") -> DataFrame:
    """transcripts -> transcripts + parsed columns (flat, pushdown-friendly)."""
    udf = make_parse_udf()
    # ts is stored TIMESTAMP_NTZ in parquet; session tz is pinned UTC so the
    # cast to TIMESTAMP is exact and unix_micros is deterministic.
    parsed = df.withColumn(
        "_p", udf(F.col(text_col), F.unix_micros(F.col(ts_col).cast("timestamp")))
    )
    return parsed.select("*", "_p.*").drop("_p")
