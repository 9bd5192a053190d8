"""Arrow-native implementation of the composite syslog parse.

The production parse kernel, run by both parse UDFs
(``syslog.make_parse_udf``, ``charsets.make_parse_bytes_udf``). It
implements the exact cascade of ``syslog.parse_batch`` (reference semantics:
/root/reference/decoders/rfc3164_format.go:28-194,
rfc5424_format.go:110-230 — see syslog.py for the citation map).
Equality against the pandas reference implementation is asserted by
tests/test_arrowparse.py over the corpus and junk inputs, and the
DuckDB oracle re-checks the production output end-to-end.

Why not run the reference itself: the pandas cascade (syslog.py) pays
~15 full-column passes through object-dtype ``.str`` ops (a hidden
Python loop each), ~2.3x this kernel's cost per core. Here every regex
runs ONCE per batch inside Arrow's RE2-backed ``extract_regex`` kernel
(C++, no per-row Python), branch selection is numpy boolean masks, and
Python survives only where the data demands it: RFC5424
structured-data parameter explosion (a per-SD-row loop over an
already-matched minority) and the two timestamp-format fallbacks
(pandas ``to_datetime`` on matched subsets, shared with syslog.py so
the semantics cannot drift).

RE2 notes: patterns use ``(?s)`` instead of re.DOTALL, named groups
only (extract_regex requirement), and RE2 has no backreferences —
none are needed. PRI overflow (> int32, Go Atoi contract) is handled
by zero-stripping + length guard before the int64 cast.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

from skewer_spark.parsing.syslog import (
    TS_YEAR_MAX,
    TS_YEAR_MIN,
    _to_us,
    _try_ts_formats,
    year_from_epoch_us,
)

_SD_ELEM = re.compile(r"\[([^ \]]+)((?:\\\]|[^\]])*)\]")
_SD_PARAM = re.compile(r'([^ =\[\]]+)="((?:[^"\\]|\\.)*)"')
_SD_UNESC = re.compile(r'\\(.)')  # stored values are unescaped

_PRI_PAT = r"(?s)^<(?P<pri>\d+)>(?P<rest>.*)$"
_SD_BLOCK = r"(?:\[(?:\\\]|[^\]])*\])+"
_R5424_PAT = (
    r"(?s)^1 (?P<ts>\S+) (?P<host>\S+) (?P<app>\S+) (?P<proc>\S+) "
    r"(?P<msgid>\S+) (?P<sd>-|" + _SD_BLOCK + r")(?: (?P<msg>.*))?$"
)
_D3339_PAT = r"(?s)^(?P<tok0>\S+)(?: (?P<rem>.*))?$"
_STAMP_PAT = r"(?s)^(?P<stamp>[^ ]+ [^ ]+ [^ ]+)(?: (?P<rem>.*))?$"
# [^ ]* not [^ ]+: the reference tokenizes with bytes.Split, which
# PRESERVES empty tokens on consecutive spaces; a nonempty-token
# pattern fails the extract there and _fill would silently swap in ''
# for every field, putting the row in the wrong cascade branch
_TWO_PAT = r"(?s)^(?P<t0>[^ ]*) (?P<t1>.*)$"
_MANY_PAT = r"(?s)^(?P<t0>[^ ]*) (?P<t1>[^ ]*) (?P<r2>.*)$"
_TAG_PAT = r"(?s)^(?P<app>[^\[]*)(?:\[(?P<proc>[^\]]*)\]?.*)?$"
_HOSTNAME_PAT = r"^[A-Za-z0-9.:_\-]+$"
_TAGCHAR_PAT = r"[\[\]:]"


def _np(arr: pa.Array) -> np.ndarray:
    return arr.to_numpy(zero_copy_only=False)


def _extract(sub: np.ndarray, pattern: str, names: list[str]):
    """RE2 extract over an object-array subset -> (matched bool array,
    {name: object array with None on non-match/non-participation})."""
    a = pa.array(sub, type=pa.string())
    st = pc.extract_regex(a, pattern=pattern)
    valid = _np(pc.is_valid(st))
    return valid, {nm: _np(pc.struct_field(st, nm)) for nm in names}


def _fill(a: np.ndarray, default: str = "") -> np.ndarray:
    out = a.copy()
    out[pd.isna(out)] = default
    return out


def _bool(sub: np.ndarray, pattern: str) -> np.ndarray:
    return _np(
        pc.match_substring_regex(pa.array(sub, type=pa.string()), pattern=pattern)
    )


def _count(sub: np.ndarray, token: str) -> np.ndarray:
    return _np(pc.count_substring(pa.array(sub, type=pa.string()), pattern=token))


def _parse_tag_vec(tags: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized parseTag (rfc3164_format.go:168-185): strip ':' ends,
    split 'app[procid]'."""
    t = _np(pc.utf8_trim(pa.array(tags, type=pa.string()), characters=":"))
    _, g = _extract(t, _TAG_PAT, ["app", "proc"])
    return _fill(g["app"]), _fill(g["proc"])


_DIM = np.array([0, 31, 28, 31, 30, 31, 30, 31, 31, 30, 31, 30, 31])


def _days_from_civil(y: np.ndarray, m: np.ndarray, d: np.ndarray) -> np.ndarray:
    """Vectorized Gregorian date -> days since 1970-01-01 (the standard
    era/year-of-era civil-calendar arithmetic)."""
    y = y - (m <= 2)
    era = np.floor_divide(np.where(y >= 0, y, y - 399), 400)
    yoe = y - era * 400
    doy = (153 * (m + np.where(m > 2, -3, 9)) + 2) // 5 + d - 1
    doe = yoe * 365 + yoe // 4 - yoe // 100 + doy
    return era * 146097 + doe - 719468


def _civil_valid(y: np.ndarray, m: np.ndarray, d: np.ndarray) -> np.ndarray:
    mo = np.clip(m, 1, 12)
    leap = ((y % 4 == 0) & (y % 100 != 0)) | (y % 400 == 0)
    dim = _DIM[mo] + (leap & (mo == 2))
    return (m >= 1) & (m <= 12) & (d >= 1) & (d <= dim)


_TS_FAST_PAT = (
    r"^(?P<y>\d{4})-(?P<mo>\d{2})-(?P<d>\d{2})T(?P<h>[01]\d|2[0-3]):"
    r"(?P<mi>[0-5]\d):(?P<s>[0-5]\d)(?P<frac>\.\d{1,6})?"
    r"(?P<tz>Z|[+-]\d{2}:\d{2})$"
)


def _ifield(st: pa.Array, name: str) -> np.ndarray:
    """struct regex field -> int64 numpy (0 where null), arrow-side cast."""
    f = pc.struct_field(st, name)
    return _np(pc.cast(pc.fill_null(f, "0"), pa.int64()))


def _ts_us(sub: np.ndarray) -> np.ndarray:
    """RFC3339 parse on a subset -> float64 epoch-us with NaN on failure.

    Fast path: one RE2 extract + numpy civil-date arithmetic for the
    strictly-well-formed shape. Anything else (leap seconds, odd field
    widths, junk) falls back to syslog._try_ts_formats so semantics
    cannot diverge from the pandas reference implementation."""
    sub = _fill(sub)
    out = np.full(len(sub), np.nan, dtype="float64")
    if len(sub) == 0:
        return out
    a = pa.array(sub, type=pa.string())
    st = pc.extract_regex(a, pattern=_TS_FAST_PAT)
    mok = _np(pc.is_valid(st))
    if mok.any():
        y, mo, d = _ifield(st, "y"), _ifield(st, "mo"), _ifield(st, "d")
        h, mi, s = _ifield(st, "h"), _ifield(st, "mi"), _ifield(st, "s")
        # year gate shared with the pandas reference (syslog.TS_YEAR_*):
        # out-of-range years are parse failures in every kernel
        valid = mok & _civil_valid(y, mo, d) & (y >= TS_YEAR_MIN) & (y <= TS_YEAR_MAX)
        fa = pc.fill_null(pc.struct_field(st, "frac"), ".")
        us = _np(
            pc.cast(
                pc.utf8_rpad(pc.utf8_slice_codeunits(fa, 1, 7), width=6, padding="0"),
                pa.int64(),
            )
        )
        tz = pc.fill_null(pc.struct_field(st, "tz"), "Z")
        is_z = pc.equal(tz, "Z")
        num = lambda start, stop: _np(
            pc.cast(
                pc.if_else(is_z, "0", pc.utf8_slice_codeunits(tz, start, stop)),
                pa.int64(),
            )
        )
        sign = np.where(_np(pc.starts_with(tz, pattern="-")), -1, 1)
        off = sign * (num(1, 3) * 3600 + num(4, 6) * 60)
        sec = _days_from_civil(y, mo, d) * 86400 + h * 3600 + mi * 60 + s - off
        vals = sec.astype("float64") * 1e6 + us
        out[valid] = vals[valid]
    slow = ~mok & (sub != "")
    if slow.any():
        out[slow] = _try_ts_formats(
            pd.Series(sub[slow], dtype=object)
        ).to_numpy()
    return out


_STAMP_FAST_PAT = (
    r"^(?P<mon>Jan|Feb|Mar|Apr|May|Jun|Jul|Aug|Sep|Oct|Nov|Dec) "
    r"(?P<d>\d{2}) (?P<h>[01]\d|2[0-3]):(?P<mi>[0-5]\d):(?P<s>[0-5]\d)$"
)
_MONTHS = ["Jan", "Feb", "Mar", "Apr", "May", "Jun",
           "Jul", "Aug", "Sep", "Oct", "Nov", "Dec"]


def _stamp_us(stamps: np.ndarray, ing_us: np.ndarray) -> np.ndarray:
    """'Mmm dd hh:mm:ss' parse with ingest-year backfill -> float64
    epoch-us with NaN on failure. Fast path + pandas fallback, as in
    _ts_us."""
    stamps = _fill(stamps)
    out = np.full(len(stamps), np.nan, dtype="float64")
    if len(stamps) == 0:
        return out
    # integer-arithmetic year: pd.to_datetime(unit='us') raises
    # OutOfBoundsDatetime on ingest timestamps past 2262, killing the
    # whole batch. Backfill years share the RFC3339 gate so every
    # kernel accepts/rejects the same years.
    year = year_from_epoch_us(ing_us)
    yr_in = (year >= TS_YEAR_MIN) & (year <= TS_YEAR_MAX)
    a = pa.array(stamps, type=pa.string())
    st = pc.extract_regex(a, pattern=_STAMP_FAST_PAT)
    mok = _np(pc.is_valid(st))
    if mok.any():
        mon = pc.fill_null(pc.struct_field(st, "mon"), "")
        mo = (
            _np(pc.index_in(mon, value_set=pa.array(_MONTHS))).astype("float64")
        )
        mo = np.nan_to_num(mo, nan=-1).astype("int64") + 1
        d, h = _ifield(st, "d"), _ifield(st, "h")
        mi, s = _ifield(st, "mi"), _ifield(st, "s")
        valid = mok & yr_in & _civil_valid(year, mo, d)
        sec = _days_from_civil(year, mo, d) * 86400 + h * 3600 + mi * 60 + s
        vals = sec.astype("float64") * 1e6
        out[valid] = vals[valid]
    slow = ~mok & (stamps != "") & yr_in
    if slow.any():
        parsed = pd.to_datetime(
            pd.Series(year[slow].astype(str))
            + " "
            + pd.Series(stamps[slow], dtype=object),
            format="%Y %b %d %H:%M:%S",
            errors="coerce",
            utc=True,
        )
        ok = parsed.notna().to_numpy()
        if ok.any():
            vals = np.full(int(slow.sum()), np.nan, dtype="float64")
            vals[ok] = _to_us(parsed[ok]).to_numpy().astype("float64")
            out[slow] = vals
    return out


def parse_batch_arrow(
    text: pd.Series, ingest_us: pd.Series, mode: str = "auto"
) -> pd.DataFrame:
    """mode: the reference selects a decoder per source config
    (decoders/decode.go:19-30) instead of auto-detecting.
    - 'auto' (default): composite dispatch — '<PRI>1 ' -> RFC5424,
      else the RFC3164 no-fail cascade.
    - 'rfc3164': p3164 alone (a '1 ...' payload is just tokens to it).
    - 'rfc5424': p5424 alone — anything that does not parse as 5424 is
      a decode ERROR (parse_error=True), unlike the no-fail 3164 path
      (rfc5424_format.go:25-51 returns the error up)."""
    t = text.fillna("").str.strip().to_numpy(dtype=object)
    ing = (
        pd.to_numeric(ingest_us, errors="coerce").fillna(0).astype("int64").to_numpy()
    )
    n = len(t)

    priority = np.zeros(n, dtype="int64")
    facility = np.zeros(n, dtype="int64")
    severity = np.zeros(n, dtype="int64")
    version = np.zeros(n, dtype="int32")
    time_reported = ing.copy()
    hostname = np.full(n, "", dtype=object)
    appname = np.full(n, "", dtype=object)
    procid = np.full(n, "", dtype=object)
    msgid = np.full(n, "", dtype=object)
    structured = np.full(n, "", dtype=object)
    message = t.copy()  # fallback default: whole line
    props_flat = np.full(n, "", dtype=object)
    parse_format = np.full(n, "fallback", dtype=object)
    parse_error = np.zeros(n, dtype=bool)

    def finish() -> pd.DataFrame:
        return pd.DataFrame(
            {
                "priority": priority.astype("int32"),
                "facility": facility.astype("int32"),
                "severity": severity.astype("int32"),
                "version": version,
                "time_reported": time_reported,
                "time_generated": ing,
                "hostname": hostname,
                "appname": appname,
                "procid": procid,
                "msgid": msgid,
                "structured": structured,
                "message": message,
                "props_flat": props_flat,
                "parse_format": parse_format,
                "parse_error": parse_error,
            }
        )

    pm_ok, pm = _extract(t, _PRI_PAT, ["pri", "rest"])
    grammar_ok = np.zeros(n, dtype=bool)  # rows passing the full 5424 grammar
    if mode == "rfc5424":
        # p5424 alone: every row must conform; errors are real errors
        parse_format[:] = "rfc5424"
        message[:] = ""
        parse_error[:] = True  # cleared below for rows that parse
    if not pm_ok.any():
        return finish()

    # Go Atoi contract: leading zeros fine, value must fit int32
    # (rfc3164_format.go:55-57 via model.Priority int32)
    pri_digits = pa.array(np.where(pm_ok, pm["pri"], None), type=pa.string())
    stripped = pc.utf8_ltrim(pri_digits, characters="0")
    short = pc.less_equal(pc.utf8_length(stripped), 10)
    castable = pc.if_else(short, stripped, None)
    castable = pc.if_else(pc.equal(castable, ""), "0", castable)
    pri_val = _np(pc.cast(castable, pa.int64()))  # NaN where too long/no match
    has_pri = pm_ok & ~pd.isna(pri_val) & (np.nan_to_num(pri_val, nan=np.inf) <= 2**31 - 1)
    if not has_pri.any():
        return finish()

    pv = pri_val[has_pri].astype("int64")
    priority[has_pri] = pv
    facility[has_pri] = pv // 8
    severity[has_pri] = pv % 8

    rest = np.full(n, "", dtype=object)
    rest[pm_ok] = _np(
        pc.utf8_trim_whitespace(pa.array(pm["rest"][pm_ok], type=pa.string()))
    )

    starts_1sp = np.zeros(n, dtype=bool)
    starts_1sp[has_pri] = _np(
        pc.starts_with(pa.array(rest[has_pri], type=pa.string()), pattern="1 ")
    )
    if mode == "rfc3164":
        starts_1sp[:] = False  # p3164 never defers to the 5424 grammar
    is5424 = has_pri & starts_1sp
    is3164 = has_pri & ~starts_1sp
    if mode == "rfc5424":
        is3164[:] = False  # non-conforming rows stay decode errors

    # ------------------------------------------------------------- RFC5424
    if is5424.any():
        idx = np.flatnonzero(is5424)
        parse_format[idx] = "rfc5424"
        message[idx] = ""
        ok, g = _extract(rest[idx], _R5424_PAT, ["ts", "host", "app", "proc", "msgid", "sd", "msg"])
        parse_error[idx[~ok]] = True
        okx = idx[ok]
        grammar_ok[okx] = True
        parse_error[okx] = False  # conforming rows (mode='rfc5424' presets True)
        if len(okx):
            version[okx] = 1
            nil = lambda a: np.where(a == "-", "", a)
            hostname[okx] = nil(g["host"][ok])
            appname[okx] = nil(g["app"][ok])
            procid[okx] = nil(g["proc"][ok])
            msgid[okx] = nil(g["msgid"][ok])
            sd = g["sd"][ok]
            structured[okx] = np.where(sd == "-", "", sd)
            message[okx] = _fill(g["msg"][ok])

            tsc = g["ts"][ok]
            dash = tsc == "-"
            tsp = _ts_us(np.where(dash, "", tsc))
            tfail = ~dash & pd.isna(tsp)
            parse_error[okx[tfail]] = True
            tok = ~pd.isna(tsp)
            time_reported[okx[tok]] = tsp[tok].astype("int64")

            # SD params -> sorted 'sid|k=v' lines (SetProperty,
            # /root/reference/model/types.go:497-512); per-SD-row loop
            # over the matched minority only. Last occurrence wins per
            # 'sid|name' (SetProperty is a map overwrite), dedup in
            # occurrence order BEFORE sorting.
            with_sd = np.flatnonzero((sd != "-") & (sd != ""))
            for i in with_sd:
                props: dict[str, str] = {}
                for em in _SD_ELEM.finditer(sd[i]):
                    sid, params = em.group(1), em.group(2)
                    for pmm in _SD_PARAM.finditer(params):
                        v = _SD_UNESC.sub(r'\1', pmm.group(2))
                        props[f"{sid}|{pmm.group(1)}"] = v
                props_flat[okx[i]] = "\n".join(
                    sorted(f"{k}={v}" for k, v in props.items())
                )

    # ------------------------------------------------------------- RFC3164
    if is3164.any():
        idx = np.flatnonzero(is3164)
        parse_format[idx] = "rfc3164"
        r = rest[idx]
        empty = r == ""
        message[idx[empty]] = ""
        idx = idx[~empty]
        r = r[~empty]
        if len(idx):
            rem = np.full(len(idx), "", dtype=object)
            starts_digit = _bool(r, r"^[0-9]")

            # RFC3339 branch (rfc3164_format.go:70-90)
            dsel = np.flatnonzero(starts_digit)
            if len(dsel):
                _, g = _extract(r[dsel], _D3339_PAT, ["tok0", "rem"])
                tsp = _ts_us(g["tok0"])
                ok = ~pd.isna(tsp)
                time_reported[idx[dsel[ok]]] = tsp[ok].astype("int64")
                message[idx[dsel[ok]]] = ""
                rem[dsel[ok]] = _fill(g["rem"][ok])
                message[idx[dsel[~ok]]] = r[dsel[~ok]]

            # old unix timestamp branch (rfc3164_format.go:92-114),
            # year backfilled from the row's ingest ts (:107)
            usel = np.flatnonzero(~starts_digit)
            if len(usel):
                _, g = _extract(r[usel], _STAMP_PAT, ["stamp", "rem"])
                tsp = _stamp_us(g["stamp"], ing[idx[usel]])
                ok = ~pd.isna(tsp)
                if ok.any():
                    time_reported[idx[usel[ok]]] = tsp[ok].astype("int64")
                    message[idx[usel[ok]]] = ""
                    rem[usel[ok]] = _fill(g["rem"][ok])
                message[idx[usel[~ok]]] = r[usel[~ok]]

            # token cascade after the timestamp
            hsel = np.flatnonzero(rem != "")
            if len(hsel):
                rr = rem[hsel]
                nsp = _count(rr, " ")

                one = nsp == 0
                message[idx[hsel[one]]] = rr[one]

                two = np.flatnonzero(nsp == 1)
                if len(two):
                    _, g = _extract(rr[two], _TWO_PAT, ["t0", "t1"])
                    t0, t1 = _fill(g["t0"]), _fill(g["t1"])
                    ipish = (_count(t0, ":") == 7) | (_count(t0, ".") == 3)
                    t0tag = _bool(t0, _TAGCHAR_PAT)
                    t1tag = _bool(t1, _TAGCHAR_PAT)
                    base = idx[hsel[two]]
                    app_t0, proc_t0 = _parse_tag_vec(t0)
                    app_t1, proc_t1 = _parse_tag_vec(t1)
                    # rfc3164_format.go:124-135
                    m_a = ipish & t1tag
                    hostname[base[m_a]] = t0[m_a]
                    appname[base[m_a]] = app_t1[m_a]
                    procid[base[m_a]] = proc_t1[m_a]
                    m_b = ipish & ~t1tag
                    hostname[base[m_b]] = t0[m_b]
                    message[base[m_b]] = t1[m_b]
                    # rfc3164_format.go:136-141
                    m_c = ~ipish & t0tag
                    appname[base[m_c]] = app_t0[m_c]
                    procid[base[m_c]] = proc_t0[m_c]
                    message[base[m_c]] = t1[m_c]
                    # rfc3164_format.go:142-147 (reference tag-parses s[0])
                    m_d = ~ipish & ~t0tag & t1tag
                    hostname[base[m_d]] = t0[m_d]
                    appname[base[m_d]] = app_t0[m_d]
                    procid[base[m_d]] = proc_t0[m_d]
                    # rfc3164_format.go:148-151
                    m_e = ~ipish & ~t0tag & ~t1tag
                    appname[base[m_e]] = t0[m_e]
                    message[base[m_e]] = t1[m_e]

                many = np.flatnonzero(nsp >= 2)
                if len(many):
                    _, g = _extract(rr[many], _MANY_PAT, ["t0", "t1", "r2"])
                    t0, t1, r2 = _fill(g["t0"]), _fill(g["t1"]), _fill(g["r2"])
                    base = idx[hsel[many]]
                    hostlike = _bool(t0, _HOSTNAME_PAT)
                    tagfirst = _bool(t0, _TAGCHAR_PAT) | ~hostlike
                    app_t0, proc_t0 = _parse_tag_vec(t0)
                    app_t1, proc_t1 = _parse_tag_vec(t1)
                    # rfc3164_format.go:154-159 (hostname omitted)
                    appname[base[tagfirst]] = app_t0[tagfirst]
                    procid[base[tagfirst]] = proc_t0[tagfirst]
                    joined = np.char.add(
                        np.char.add(t1[tagfirst].astype(str), " "),
                        r2[tagfirst].astype(str),
                    )
                    message[base[tagfirst]] = joined.astype(object)
                    # rfc3164_format.go:161-163
                    m_g = ~tagfirst
                    hostname[base[m_g]] = t0[m_g]
                    appname[base[m_g]] = app_t1[m_g]
                    procid[base[m_g]] = proc_t1[m_g]
                    message[base[m_g]] = r2[m_g]

    if mode == "rfc5424":
        # decode-error rows carry NO partially-decoded header fields:
        # the reference discards the whole message when the 5424 grammar
        # fails (rfc5424_format.go:25-51), so PRI-derived fields must not
        # leak. Rows that pass the grammar but fail only the timestamp
        # keep their fields (same as the composite cascade).
        bad = parse_error & ~grammar_ok
        priority[bad] = 0
        facility[bad] = 0
        severity[bad] = 0

    return finish()
