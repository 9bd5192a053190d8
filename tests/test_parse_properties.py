"""Property-based tests for the parse stage (hypothesis).

Two layers:

1. Differential fuzzing — the production Arrow/RE2 kernel
   (``parse_batch_arrow``) must agree EXACTLY with the pandas reference
   (``parse_batch``) on arbitrary input, valid or garbage. This is the
   strongest guard on the no-fail cascade (rfc3164_format.go:31-53):
   every branch disagreement between the two is a bug in at least one
   of them.

2. Generative round-trips — build RFC5424/RFC3164 lines from random
   components with a local formatter mirroring the reference encoders
   (encoders/rfc5424.go:130-184, rfc3164.go:26-45) and assert the
   parser recovers every component, including priority arithmetic
   (pri = facility*8 + severity, model/types.go:439-441) and
   SD params -> properties (rfc5424_format.go:110-230).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from skewer_spark.parsing.arrowparse import parse_batch_arrow
from skewer_spark.parsing.syslog import parse_batch

ING = 1_700_000_000_000_000  # fixed ingest ts (2023-11-14T22:13:20Z)


def _assert_agree(lines: list[str]):
    s = pd.Series(lines, dtype=object)
    ing = pd.Series([ING] * len(s))
    a, b = parse_batch(s, ing), parse_batch_arrow(s, ing)
    for col in a.columns:
        eq = a[col].astype(str).values == b[col].astype(str).values
        if not eq.all():
            i = int(np.where(~eq)[0][0])
            raise AssertionError(
                f"arrow diverges on col {col!r} for input {lines[i]!r}: "
                f"ref={a[col][i]!r} got={b[col][i]!r}"
            )


# biased alphabet: syslog structure characters are heavily represented
_SYSLOGGY = st.text(
    alphabet="<>0123456789 ab:[]\"-TZ.+=\\\n\t_", min_size=0, max_size=60
)
_ANY = st.text(min_size=0, max_size=40)


@settings(max_examples=150, deadline=None)
@given(st.lists(_SYSLOGGY | _ANY, min_size=1, max_size=20))
def test_kernels_agree_on_arbitrary_text(lines):
    _assert_agree(lines)


@settings(max_examples=60, deadline=None)
@given(
    pri=st.integers(0, 191),
    body=st.text(alphabet="ab c:[]1.", min_size=0, max_size=30),
)
def test_kernels_agree_on_pri_prefixed_lines(pri, body):
    _assert_agree([f"<{pri}>{body}", f"<{pri}>1 {body}"])


# ------------------------------------------------------------- round trips

_TOKEN = st.text(
    alphabet=st.characters(
        codec="ascii", min_codepoint=33, max_codepoint=126, exclude_characters="-<>[]\"\\="
    ),
    min_size=1,
    max_size=12,
)
_SD_NAME = _TOKEN
_SD_VALUE_RAW = st.text(
    alphabet=st.characters(codec="ascii", min_codepoint=32, max_codepoint=126),
    min_size=0,
    max_size=10,
)
_MSG = st.text(
    alphabet=st.characters(codec="ascii", min_codepoint=32, max_codepoint=126),
    min_size=1,
    max_size=30,
).filter(lambda s: s.strip() == s and s != "-")


def _escape_sd(v: str) -> str:
    # escapeSDParam (encoders/rfc5424.go:86-110): backslash-escape \ " ]
    out = []
    for ch in v:
        if ch in ('\\', '"', "]"):
            out.append("\\")
        out.append(ch)
    return "".join(out)


@st.composite
def _rfc5424_case(draw):
    pri = draw(st.integers(0, 191))
    ts = draw(
        st.datetimes(
            min_value=pd.Timestamp("1971-01-01"),
            max_value=pd.Timestamp("2099-12-31"),
        )
    )
    host = draw(st.one_of(st.just("-"), _TOKEN))
    app = draw(st.one_of(st.just("-"), _TOKEN))
    proc = draw(st.one_of(st.just("-"), _TOKEN))
    msgid = draw(st.one_of(st.just("-"), _TOKEN))
    sds = draw(
        st.lists(
            st.tuples(
                _SD_NAME,
                st.lists(st.tuples(_SD_NAME, _SD_VALUE_RAW), min_size=0, max_size=3),
            ),
            min_size=0,
            max_size=2,
        )
    )
    msg = draw(st.one_of(st.just(""), _MSG))
    return pri, ts, host, app, proc, msgid, sds, msg


@settings(max_examples=80, deadline=None)
@given(_rfc5424_case())
def test_rfc5424_roundtrip(case):
    pri, ts, host, app, proc, msgid, sds, msg = case
    iso = ts.strftime("%Y-%m-%dT%H:%M:%S") + (
        f".{ts.microsecond:06d}Z" if ts.microsecond else "Z"
    )
    if sds:
        sd_txt = "".join(
            "[" + sid + "".join(f' {k}="{_escape_sd(v)}"' for k, v in params) + "]"
            for sid, params in sds
        )
    else:
        sd_txt = "-"
    line = f"<{pri}>1 {iso} {host} {app} {proc} {msgid} {sd_txt}"
    if msg:
        line += f" {msg}"

    out = parse_batch(pd.Series([line]), pd.Series([ING])).iloc[0]
    assert not out["parse_error"], line
    assert out["parse_format"] == "rfc5424"
    assert out["priority"] == pri
    assert out["facility"] == pri // 8
    assert out["severity"] == pri % 8
    assert out["version"] == 1
    nil = lambda x: "" if x == "-" else x
    assert out["hostname"] == nil(host)
    assert out["appname"] == nil(app)
    assert out["procid"] == nil(proc)
    assert out["msgid"] == nil(msgid)
    assert out["message"] == msg
    # integer ns -> us: float Timedelta division loses precision > 2^53 ns
    epoch = (pd.Timestamp(ts) - pd.Timestamp("1970-01-01")).value // 1000
    assert out["time_reported"] == epoch, (iso, out["time_reported"], epoch)
    # canonical props_flat stores the UNESCAPED logical value: the
    # wire carries _escape_sd(v), the parse recovers v exactly.
    # SetProperty overwrite (model/types.go:497-512): a repeated
    # (sid, name) keeps only the LAST occurrence — mirror it with a
    # dict built in occurrence order.
    want: dict[str, str] = {}
    for sid, params in sds:
        for k, v in params:
            want[f"{sid}|{k}"] = v
    want_props = sorted(f"{k}={v}" for k, v in want.items())
    assert out["props_flat"] == "\n".join(want_props)
    _assert_agree([line])


@settings(max_examples=80, deadline=None)
@given(
    pri=st.integers(0, 191),
    ts=st.datetimes(
        min_value=pd.Timestamp("2023-01-01"),
        max_value=pd.Timestamp("2023-12-31"),
    ),
    host=_TOKEN.filter(
        lambda s: bool(__import__("re").match(r"^[A-Za-z0-9.:_]+$", s))
        and ":" not in s
        and s.count(".") != 3
    ),
    app=_TOKEN.filter(lambda s: "[" not in s and ":" not in s and "]" not in s),
    procid=st.text(alphabet="0123456789", min_size=1, max_size=5),
    msg=_MSG,
)
def test_rfc3164_roundtrip(pri, ts, host, app, procid, msg):
    # 'Mmm dd hh:mm:ss host app[procid]: msg' — year backfilled from the
    # ingest ts (rfc3164_format.go:107), so generate within ingest year
    stamp = f"{ts.strftime('%b')} {ts.day:02d} {ts.strftime('%H:%M:%S')}"
    line = f"<{pri}>{stamp} {host} {app}[{procid}]: {msg}"
    out = parse_batch(pd.Series([line]), pd.Series([ING])).iloc[0]
    assert out["parse_format"] == "rfc3164"
    assert out["priority"] == pri
    assert out["facility"] == pri // 8 and out["severity"] == pri % 8
    assert out["hostname"] == host
    assert out["appname"] == app
    assert out["procid"] == procid
    assert out["message"] == msg
    want = pd.Timestamp(
        year=2023, month=ts.month, day=ts.day,
        hour=ts.hour, minute=ts.minute, second=ts.second,
    )
    epoch = (want - pd.Timestamp("1970-01-01")).value // 1000
    assert out["time_reported"] == epoch
    _assert_agree([line])


@settings(max_examples=80, deadline=None)
@given(st.lists(_SYSLOGGY | _ANY, min_size=1, max_size=15))
def test_forced_modes_agree_with_composite_dispatch(lines):
    """Metamorphic property: the composite parser IS the per-row
    dispatch between p5424 and p3164 (decode.go:19-30). So forcing
    mode='rfc5424' must reproduce the composite output exactly on rows
    the composite classified rfc5424, and mode='rfc3164' must reproduce
    it on the rest (the 3164 cascade owns fallback too)."""
    s = pd.Series(lines, dtype=object)
    ing = pd.Series([ING] * len(s))
    auto = parse_batch_arrow(s, ing)
    f54 = parse_batch_arrow(s, ing, mode="rfc5424")
    f31 = parse_batch_arrow(s, ing, mode="rfc3164")
    is54 = (auto["parse_format"] == "rfc5424").to_numpy()
    for col in auto.columns:
        a = auto[col].astype(str).to_numpy()
        assert (a[is54] == f54[col].astype(str).to_numpy()[is54]).all(), (
            col, [lines[i] for i in np.flatnonzero(is54)[:3]]
        )
        assert (a[~is54] == f31[col].astype(str).to_numpy()[~is54]).all(), (
            col, [lines[i] for i in np.flatnonzero(~is54)[:3]]
        )


@given(
    st.lists(st.text(alphabet=st.characters(codec="utf-8"), max_size=60), max_size=12),
    st.integers(min_value=1, max_value=7),
)
@settings(max_examples=60, deadline=None)
def test_octet_scanner_recovers_frames_under_any_chunking(frames, chunk):
    # encode frames as '<len> <bytes>', feed the stream in arbitrary
    # fixed-size chunks: the incremental scanner must recover exactly
    # the original frames with an empty tail
    from skewer_spark.parsing.binary_sources import OctetStreamScanner

    stream = b"".join(
        str(len(f.encode())).encode() + b" " + f.encode() for f in frames
    )
    s = OctetStreamScanner()
    got = []
    for i in range(0, len(stream), chunk):
        got.extend(s.feed(stream[i : i + chunk]))
    assert got == frames
    assert s.close() == b""


@given(st.binary(max_size=200), st.sampled_from(
    ["utf8", "latin1", "windows-1252", "latin15", "bogus-charset"]))
@settings(max_examples=80, deadline=None)
def test_transcode_never_fails_on_arbitrary_bytes(raw, charset):
    import pandas as pd

    from skewer_spark.parsing.charsets import transcode_series

    out = transcode_series(pd.Series([raw]), charset)[0]
    assert isinstance(out, str)
    # latin-1 decode is a bijection on bytes: re-encoding roundtrips
    if charset == "latin1":
        assert out.encode("latin-1") == raw
