"""Property-based tests (hypothesis) for the pure-Python layers: the
Arrow record codec that feeds ``python_transform``'s mapInArrow and the
CDAP schema bridge. Spark-free, so hundreds of examples run in
milliseconds — the same role the reference's codec micro-tests played
(PythonObjectsEncoderTest.java:35-49), but generative."""

from __future__ import annotations

import datetime

import pyarrow as pa
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import types as T

from python_plugins_spark import SCRATCH
from python_plugins_spark.operators.transform import _batch_to_records, _records_to_batch
from python_plugins_spark.schema import cdap_schema_to_spark, spark_schema_to_cdap

field_names = st.lists(
    st.text(
        alphabet="abcdefghijklmnopqrstuvwxyz_", min_size=1, max_size=8
    ),
    min_size=1,
    max_size=6,
    unique=True,
)

# (Arrow column type, strategy for its non-null Python values, the one
# Python type the script must see). Timestamps arrive as Spark sends
# them — microseconds, tz-aware UTC — and reach the script naive.
_ts_values = st.datetimes(
    min_value=datetime.datetime(1900, 1, 1), max_value=datetime.datetime(2200, 1, 1)
)
_codec_columns = [
    (pa.int64(), st.integers(min_value=-(2**63), max_value=2**63 - 1), int),
    (pa.int32(), st.integers(min_value=-(2**31), max_value=2**31 - 1), int),
    (pa.float64(), st.floats(allow_nan=False, allow_infinity=False), float),
    (pa.bool_(), st.booleans(), bool),
    (pa.string(), st.text(max_size=20), str),
    (pa.timestamp("us", tz="UTC"), _ts_values, datetime.datetime),
    (pa.list_(pa.int32()), st.lists(st.integers(-100, 100), max_size=4), list),
    (
        pa.map_(pa.string(), pa.map_(pa.string(), pa.int64())),
        st.dictionaries(
            st.text(max_size=4), st.dictionaries(st.text(max_size=4), st.integers(0, 9), max_size=3),
            max_size=3,
        ),
        dict,
    ),
    (
        pa.struct([("k", pa.int64()), ("m", pa.map_(pa.string(), pa.string()))]),
        st.fixed_dictionaries({
            "k": st.none() | st.integers(0, 9),
            "m": st.dictionaries(st.text(max_size=4), st.text(max_size=4), max_size=3),
        }),
        dict,
    ),
]


def _arrow_value(v, arrow_type):
    """A Python value as pyarrow wants it for ``arrow_type``: maps as
    (key, value) pairs at any depth, timestamps tz-aware UTC."""
    if v is None:
        return None
    if pa.types.is_map(arrow_type):
        return [(k, _arrow_value(x, arrow_type.item_type)) for k, x in v.items()]
    if pa.types.is_struct(arrow_type):
        return {f.name: _arrow_value(v[f.name], f.type) for f in arrow_type}
    if pa.types.is_timestamp(arrow_type):
        return v.replace(tzinfo=datetime.timezone.utc)
    return v


@settings(max_examples=200, deadline=None)
@given(names=field_names, data=st.data())
def test_batch_records_roundtrip(names, data):
    """batch -> records keeps values, Python types and null positions:
    nullable integers stay int, arrays are lists, maps are dicts at any
    depth, timestamps are naive UTC datetimes."""
    n_rows = data.draw(st.integers(min_value=0, max_value=8))
    specs = [data.draw(st.sampled_from(_codec_columns)) for _ in names]
    columns = [
        [data.draw(st.none() | values) for _ in range(n_rows)] for _, values, _ in specs
    ]
    batch = pa.RecordBatch.from_arrays(
        [
            pa.array([_arrow_value(v, t) for v in col], type=t)
            for col, (t, _, _) in zip(columns, specs)
        ],
        names=names,
    )
    recs = _batch_to_records(batch)
    assert len(recs) == n_rows
    for i, rec in enumerate(recs):
        assert list(rec) == names
        for name, col, (_, _, py_type) in zip(names, columns, specs):
            got, want = rec[name], col[i]
            if want is None:
                assert got is None, (name, got)
            else:
                assert type(got) is py_type and got == want, (name, got, want)


@settings(max_examples=200, deadline=None)
@given(names=field_names, data=st.data())
def test_records_to_batch_schema_projection(names, data):
    """Schema re-imposition semantics (the reference's decodeRecord,
    PythonObjectsEncoder.java:148-156): schema fields missing from an
    emitted dict become null; dict keys not in the schema are dropped."""
    schema = pa.schema([pa.field(n, pa.string()) for n in names])
    n_rows = data.draw(st.integers(min_value=0, max_value=6))
    rows = []
    for _ in range(n_rows):
        # emit a dict with a random subset of schema fields + an extra
        present = data.draw(st.sets(st.sampled_from(names)))
        d = {n: "v" for n in present}
        d["extra_key_not_in_schema"] = "dropped"
        rows.append(d)
    batch = _records_to_batch(rows, schema)
    assert batch.schema == schema
    got = batch.to_pylist()
    assert got == [{n: "v" if n in row else None for n in names} for row in rows]


def test_records_to_batch_coercions():
    """The decode coercions of test_transform's numeric test, Spark-free:
    an int into a double field, a float into a float32 field, 2**52 into
    a long field, a missing numeric as null; and an aware datetime keeps
    its instant in a UTC timestamp field, like a naive one read as UTC."""
    schema = pa.schema([
        ("as_double", pa.float64()),
        ("as_float", pa.float32()),
        ("big", pa.int64()),
        ("missing", pa.float64()),
        ("ts", pa.timestamp("us", tz="UTC")),
    ])
    plus2 = datetime.timezone(datetime.timedelta(hours=2))
    emitted = [
        {"as_double": 7, "as_float": 1.5, "big": 2**52,
         "ts": datetime.datetime(2024, 1, 1, 5, tzinfo=plus2)},
        {"ts": datetime.datetime(2024, 1, 1, 3)},
    ]
    batch = _records_to_batch(emitted, schema)
    assert batch.schema == schema
    row, naive = batch.to_pylist()
    assert row["as_double"] == 7.0 and isinstance(row["as_double"], float)
    assert abs(row["as_float"] - 1.5) < 1e-6
    assert row["big"] == 2**52
    assert row["missing"] is None
    assert row["ts"] == naive["ts"] == datetime.datetime(2024, 1, 1, 3, tzinfo=datetime.timezone.utc)


# a recursive strategy for Spark datatypes the bridge supports
atomic_types = st.sampled_from(
    [
        T.BooleanType(),
        T.IntegerType(),
        T.LongType(),
        T.FloatType(),
        T.DoubleType(),
        T.BinaryType(),
        T.StringType(),
        T.DateType(),
        T.TimestampType(),
        T.DecimalType(10, 2),
    ]
)


def _types(depth):
    if depth == 0:
        return atomic_types
    inner = _types(depth - 1)
    return st.one_of(
        atomic_types,
        st.builds(lambda e: T.ArrayType(e, True), inner),
        st.builds(lambda v: T.MapType(T.StringType(), v, True), inner),
        st.builds(
            lambda fs: T.StructType(
                [T.StructField(f"f{i}", t, True) for i, t in enumerate(fs)]
            ),
            st.lists(inner, min_size=1, max_size=3),
        ),
    )


@settings(max_examples=150, deadline=None)
@given(
    types=st.lists(_types(2), min_size=1, max_size=5),
)
def test_schema_bridge_roundtrip(types):
    """StructType -> CDAP Avro-JSON -> StructType is the identity for
    every type the bridge supports, arbitrarily nested."""
    schema = T.StructType(
        [T.StructField(f"c{i}", t, True) for i, t in enumerate(types)]
    )
    back = cdap_schema_to_spark(spark_schema_to_cdap(schema))
    assert back == schema


def test_uuid5_format_and_stability(spark, sf_dir):
    """Minted UUIDs are RFC-4122-shaped (version 5, variant 10xx) and
    a pure function of the key: two evaluations agree exactly."""
    import re

    from python_plugins_spark.queries import QUERIES

    a = {r.doc_id: r.stable_uuid for r in QUERIES["uuid5_deterministic_ids"](spark, sf_dir).collect()}
    b = {r.doc_id: r.stable_uuid for r in QUERIES["uuid5_deterministic_ids"](spark, sf_dir).collect()}
    assert a == b and len(a) > 0
    pat = re.compile(r"^[0-9a-f]{8}-[0-9a-f]{4}-5[0-9a-f]{3}-[89ab][0-9a-f]{3}-[0-9a-f]{12}$")
    assert all(pat.match(u) for u in a.values()), list(a.values())[:3]


# ---------------------------------------------------------------- avro

_avro_value = st.one_of(
    st.none(),
    st.booleans(),
    st.integers(min_value=-(2**63), max_value=2**63 - 1),
    st.floats(allow_nan=False, width=64),
    st.text(max_size=40),
    st.binary(max_size=40),
    st.lists(st.integers(min_value=-(2**31), max_value=2**31 - 1), max_size=8),
    st.dictionaries(st.text(max_size=8), st.integers(min_value=0, max_value=10**9), max_size=5),
)

_AVRO_NODE_BY_TYPE = {
    type(None): "null",
    bool: "boolean",
    int: "long",
    float: "double",
    str: "string",
    bytes: "bytes",
    list: {"type": "array", "items": "int"},
    dict: {"type": "map", "values": "long"},
}


@settings(max_examples=200, deadline=None)
@given(values=st.lists(_avro_value, min_size=1, max_size=6))
def test_avro_codec_roundtrip_property(values, tmp_path_factory):
    """The hand-written Avro binary codec must be the identity over
    arbitrary rows of every supported type (nullable unions included):
    container write -> read returns the exact python values."""
    import os
    import uuid as _uuid

    from python_plugins_spark.sources.avro_py import read_container, write_container

    fields = []
    for i, v in enumerate(values):
        node = _AVRO_NODE_BY_TYPE[type(v)]
        fields.append({"name": f"c{i}", "type": [node, "null"] if node != "null" else "null"})
    schema = {"type": "record", "name": "r", "fields": fields}
    row = tuple(values)
    path = os.path.join(SCRATCH, f"avro_prop_{_uuid.uuid4().hex}.avro")
    try:
        write_container(path, schema, [row, row], codec="deflate")
        got = list(read_container(path))
    finally:
        try:
            os.remove(path)
        except OSError:
            pass
    assert got == [row, row]


# ------------------------------------------------- round-4 codecs

@given(
    st.lists(st.integers(min_value=-32768, max_value=32767),
             min_size=1, max_size=400),
    st.sampled_from([8000, 16000, 44100]),
)
@settings(max_examples=60, deadline=None)
def test_wav_roundtrip_property(samples, rate):
    """Any PCM16 signal survives stdlib-encode -> hand-rolled-parse
    bit-exactly."""
    from python_plugins_spark.operators.multimodal import parse_wav, wav_bytes

    nch, sr, n, dec = parse_wav(wav_bytes(samples, rate))
    assert (nch, sr, n) == (1, rate, len(samples))
    assert dec == samples


@given(
    st.integers(min_value=1, max_value=24),
    st.integers(min_value=1, max_value=16),
    st.integers(min_value=0, max_value=2**31 - 1),
)
@settings(max_examples=60, deadline=None)
def test_bmp_ppm_roundtrip_property(width, height, seed):
    """Any image size (incl. widths needing BMP row padding) round-
    trips through both codecs with identical pixels."""
    from python_plugins_spark.operators.multimodal import (
        bmp_bytes, parse_bmp, parse_ppm, ppm_bytes,
    )

    pf = lambda x, y: (
        (seed + 3 * x + 7 * y) % 256,
        (seed // 7 + x + 11 * y) % 256,
        (seed // 13 + 13 * x + y) % 256,
    )
    want = [pf(x, y) for y in range(height) for x in range(width)]
    w, h, px = parse_bmp(bmp_bytes(width, height, pf))
    assert (w, h, px) == (width, height, want)
    w, h, px = parse_ppm(ppm_bytes(width, height, pf))
    assert (w, h, px) == (width, height, want)


_PY2_SNIPPETS = st.lists(
    st.sampled_from([
        'print "a", x',
        'print x,',
        'print >>sink, x',
        'x = d.has_key(1)',
        'x = obj.attr[0].has_key(k)',
        'v = 0777 + 10L',
        'for i in xrange(3):\n    print i',
        # binds `msg`, NOT a name other snippets consume: composition
        # order must never make a later numeric snippet read a string
        # (hypothesis found ['...except...x = str(e)', 'n = long(x)'])
        'try:\n    raise ValueError, "m"\nexcept ValueError, e:\n    msg = str(e)',
        'b = x <> 1',
        'n = long(x)',
    ]),
    min_size=1, max_size=6,
)


@given(_PY2_SNIPPETS)
@settings(max_examples=40, deadline=None)
def test_py2shim_composed_scripts_compile(snippets):
    """Any composition of the supported py2 forms rewrites to code
    that compiles AND runs under Python 3 (with the names the
    snippets reference bound)."""
    import io

    from python_plugins_spark.operators.py2shim import python2_to_3

    src = "\n".join(snippets) + "\n"
    out = python2_to_3(src)
    code = compile(out, "<p>", "exec")
    ns = {"d": {1: "a"}, "x": 5, "k": 1, "sink": io.StringIO(),
          "obj": type("O", (), {"attr": [{1: 2}]})()}
    exec(code, ns)


@given(st.data())
@settings(max_examples=30, deadline=None)
def test_png_gif_roundtrip_any_image(data):
    """PNG (every filter) and GIF (when the palette fits) are lossless
    for ARBITRARY uint8 images, not just the fixture family."""
    import numpy as np

    from python_plugins_spark.operators.gif import gif_decode, gif_encode
    from python_plugins_spark.operators.png import png_decode, png_encode

    h = data.draw(st.integers(1, 20))
    w = data.draw(st.integers(1, 20))
    ft = data.draw(st.integers(0, 4))
    seed = data.draw(st.integers(0, 2**31))
    rng = np.random.default_rng(seed)
    gray = rng.integers(0, 256, (h, w), dtype=np.uint8)
    rgb = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
    assert (png_decode(png_encode(gray, ft)) == gray).all()
    assert (png_decode(png_encode(rgb, ft)) == rgb).all()
    from python_plugins_spark.operators.tiff import tiff_decode, tiff_encode

    assert (tiff_decode(tiff_encode(gray)) == gray).all()
    assert (tiff_decode(tiff_encode(rgb)) == rgb).all()
    if h * w <= 256:  # palette guaranteed to fit
        assert (gif_decode(gif_encode(rgb)) == rgb).all()


@given(st.data())
@settings(max_examples=30, deadline=None)
def test_gif_lzw_roundtrip_any_sequence(data):
    from python_plugins_spark.operators.gif import _lzw_decode, _lzw_encode

    mcs = data.draw(st.integers(2, 8))
    seq = data.draw(
        st.lists(st.integers(0, (1 << mcs) - 1), min_size=1, max_size=3000)
    )
    assert _lzw_decode(_lzw_encode(seq, mcs), mcs) == seq


@given(st.data())
@settings(max_examples=25, deadline=None)
def test_jpeg_decode_never_crashes_and_bounds_error(data):
    """Any uint8 image survives encode->decode at any quality with the
    right shape; reconstruction error is bounded by the quantization
    table scale (a loose but universal bound: max|err| <= 255)."""
    import numpy as np

    from python_plugins_spark.operators.jpeg import (
        jpeg_decode_gray, jpeg_encode_gray,
    )

    h = data.draw(st.integers(1, 24))
    w = data.draw(st.integers(1, 24))
    q = data.draw(st.sampled_from([10, 50, 90]))
    seed = data.draw(st.integers(0, 2**31))
    img = np.random.default_rng(seed).integers(0, 256, (h, w), dtype=np.uint8)
    dec = jpeg_decode_gray(jpeg_encode_gray(img, q))
    assert dec.shape == (h, w) and dec.dtype == np.uint8
    # smooth images must reconstruct closely even at low quality
    flat = np.full((h, w), int(img.mean()), dtype=np.uint8)
    dec2 = jpeg_decode_gray(jpeg_encode_gray(flat, q))
    assert np.abs(dec2.astype(int) - flat.astype(int)).max() <= 16


# ----------------------------------------------------- crawl parsers
# The round-7 crawl trio gates 100 TB of untrusted bytes; fuzz them the
# way the GIF LZW coder was fuzzed (that harness caught a real
# tail-width desync). Contract under test: malformed input either
# parses to something sensible or raises ValueError — never IndexError,
# EOFError, zlib.error, or a hang.


@given(st.data())
@settings(max_examples=40, deadline=None)
def test_warc_roundtrip_any_body(data):
    """Any byte body (binary, CRLF CRLF inside, empty) survives
    build_warc -> parse_warc octet-exactly, gzipped or plain."""
    from python_plugins_spark.operators.warc import build_warc, parse_warc

    body = data.draw(st.binary(max_size=300))
    gz = data.draw(st.booleans())
    recs = [
        (
            {
                "WARC-Type": "response",
                "WARC-Target-URI": "http://x.example/a",
                "Content-Type": "application/http;msgtype=response",
            },
            b"HTTP/1.1 200 OK\r\nContent-Length: %d\r\n\r\n%s"
            % (len(body), body),
        )
    ]
    out = parse_warc(build_warc(recs, per_record_gzip=gz))
    assert len(out) == 1
    assert out[0]["body"] == body
    assert out[0]["http_status"] == 200


@given(st.data())
@settings(max_examples=60, deadline=None)
def test_warc_truncation_and_garbage_always_valueerror(data):
    """Truncating a valid .warc.gz at ANY byte, lying in
    Content-Length, or feeding arbitrary garbage must raise ValueError
    (UnicodeDecodeError, a ValueError subclass, included) — never
    EOFError/zlib.error/IndexError."""
    import pytest

    from python_plugins_spark.operators.warc import build_warc, parse_warc

    recs = [
        (
            {
                "WARC-Type": "response",
                "WARC-Target-URI": "http://x.example/a",
                "Content-Type": "application/http;msgtype=response",
            },
            b"HTTP/1.1 200 OK\r\n\r\npayload bytes here",
        )
    ]
    good = build_warc(recs)
    mode = data.draw(st.sampled_from(["truncate", "garbage", "liar"]))
    if mode == "truncate":
        cut = data.draw(st.integers(1, len(good) - 1))
        with pytest.raises(ValueError):
            parse_warc(good[:cut])
    elif mode == "garbage":
        blob = data.draw(st.binary(min_size=1, max_size=200))
        # a leading gzip magic makes it exercise the gunzip path too
        if data.draw(st.booleans()):
            blob = b"\x1f\x8b" + blob
        try:
            parse_warc(blob)
        except ValueError:
            pass  # refusal is the contract; success only for real WARCs
    else:
        # Content-Length lies: declared length overruns the payload
        plain = build_warc(recs, per_record_gzip=False)
        lied = plain.replace(
            b"Content-Length: 37", b"Content-Length: 9999", 1
        )
        with pytest.raises(ValueError):
            parse_warc(lied)


@given(st.text(max_size=400))
@settings(max_examples=100, deadline=None)
def test_robots_parse_never_crashes(text):
    """parse_robots accepts ANY text (BOM, CR-only lines, mixed-case
    keys, colons in values, comment soup) and robots_allowed always
    returns a bool against any parse result."""
    from python_plugins_spark.operators.robots import (
        parse_robots, robots_allowed,
    )

    groups = parse_robots(text)
    assert isinstance(robots_allowed(groups, "anybot", "/a/b?q=1"), bool)


def test_robots_bom_cr_and_star_runs():
    """Targeted adversarial fixtures: a UTF-8 BOM must not eat the
    first group; CR-only line endings parse; '*' runs collapse to one
    wildcard (same verdicts, no stacked-backtracking regex)."""
    from python_plugins_spark.operators.robots import (
        _pattern_re, parse_robots, robots_allowed,
    )

    bom = "﻿User-agent: *\nDisallow: /x\n"
    assert robots_allowed(parse_robots(bom), "any", "/x/1") is False

    cr_only = "User-agent: *\rDisallow: /y\r"
    assert robots_allowed(parse_robots(cr_only), "any", "/y") is False

    mixed = "uSeR-AgEnT: Alpha\rDISALLOW: /z\r\nAllow: /z/ok\n"
    g = parse_robots(mixed)
    assert robots_allowed(g, "alpha/1.0", "/z/1") is False
    assert robots_allowed(g, "alpha/1.0", "/z/ok") is True

    assert _pattern_re("/a****b*").pattern == _pattern_re("/a*b*").pattern
    hostile = "User-agent: *\nDisallow: /" + "*" * 200 + "a$\n"
    g = parse_robots(hostile)
    # must answer quickly (collapsed to one '.*'), and correctly
    assert robots_allowed(g, "any", "/" + "x" * 5000) is True
    assert robots_allowed(g, "any", "/xxxa") is False


@given(st.text(max_size=400))
@settings(max_examples=100, deadline=None)
def test_html_extract_never_crashes(text):
    """extract_text accepts ANY text — unterminated comments, orphan
    '</', raw '<' soup, bad charrefs — and returns a string."""
    from python_plugins_spark.operators.html_extract import extract_text

    out = extract_text(text)
    assert isinstance(out, str)


def test_html_extract_adversarial_fixtures():
    """Targeted malformed-HTML cases with pinned expected text:
    unterminated comment swallows the rest (browser behavior — the
    stdlib parser alone would leak the raw '<!--' markup into corpus
    text), unterminated <script> never leaks code, legacy no-semicolon
    entity expansion ('&not' inside '&notareal;') matches the HTML5
    named-reference rules, stray '</' and bare '<' survive sanely."""
    from python_plugins_spark.operators.html_extract import extract_text

    assert extract_text("<p>keep</p><!-- lost forever") == "keep"
    assert extract_text("<p>a</p><!-- x --><p>b</p><!-- tail") == "a\nb"
    assert extract_text("<script>var x = 1;") == ""
    assert "var x" not in extract_text("<p>a</p><script>var x = 1;")
    # HTML5 legacy named refs expand WITHOUT a semicolon: '&not' is in
    # the legacy list, so '&notareal;' -> '¬areal;' (what browsers do)
    assert extract_text("a &notareal; b") == "a ¬areal; b"
    assert extract_text("<p>x</p></div></div>") == "x"
    # '< 2' is not a tag open (no tagname start): data passes through
    assert extract_text("1 < 2 and 2 > 1") == "1 < 2 and 2 > 1"


@given(st.text(max_size=300))
@settings(max_examples=100, deadline=None)
def test_langid_classify_total_function(text):
    """classify_py is total: ANY text (mixed scripts, combining marks,
    lone surrogates excluded by st.text, whitespace soup) yields one of
    the known labels, and the trigram extractor never crashes."""
    from python_plugins_spark.operators.langid import (
        LANGS, SCRIPT_LANG, char_trigrams, classify_py,
    )

    label = classify_py(text)
    assert label in set(LANGS) | set(SCRIPT_LANG.values()) | {"ja", "unknown"}
    if text.strip():
        tgs = char_trigrams(text)
        assert all(len(t) == 3 for t in tgs)


@given(st.data())
@settings(max_examples=60, deadline=None)
def test_bmp_stream_truncation_and_garbage_always_valueerror(data):
    """The video container walk gates untrusted bytes like the other
    crawl parsers: truncating a valid frame stream at any byte,
    corrupting a declared size, or feeding arbitrary garbage must
    raise ValueError (never struct.error/IndexError) — and a valid
    stream always splits into byte-identical frames."""
    import pytest

    from python_plugins_spark.operators.multimodal import bmp_bytes
    from python_plugins_spark.operators.phash import parse_bmp_stream

    n_frames = data.draw(st.integers(1, 4))
    sides = [data.draw(st.sampled_from([8, 16, 32])) for _ in range(n_frames)]
    frames = [
        bmp_bytes(s, s, lambda x, y, s=s: ((x * 3 + s) % 251, y % 251, 7))
        for s in sides
    ]
    stream = b"".join(frames)
    assert parse_bmp_stream(stream) == frames

    mode = data.draw(st.sampled_from(["truncate", "corrupt_size", "garbage"]))
    if mode == "truncate":
        cut = data.draw(st.integers(1, len(stream) - 1))
        bad = stream[:cut]
        boundaries = {
            sum(len(f) for f in frames[:k]): k for k in range(1, n_frames)
        }
        if cut in boundaries:
            # a cut exactly on a frame boundary IS a valid shorter stream
            assert parse_bmp_stream(bad) == frames[: boundaries[cut]]
            return
    elif mode == "corrupt_size":
        import struct

        which = data.draw(st.integers(0, n_frames - 1))
        off = sum(len(f) for f in frames[:which]) + 2
        lie = data.draw(st.integers(0, 13))  # < 14 always refuses
        bad = stream[:off] + struct.pack("<I", lie) + stream[off + 4:]
    else:
        bad = bytes(
            data.draw(st.lists(st.integers(0, 255), min_size=1, max_size=64))
        )
        if bad[:2] == b"BM":
            bad = b"XX" + bad[2:]
    with pytest.raises(ValueError):
        parse_bmp_stream(bad)


@given(st.data())
@settings(max_examples=80, deadline=None)
def test_audio_fingerprint_invariances(data):
    """The Haitsma-Kalker invariance claim, property-tested: for any
    synthetic fixture signal, any sign mask, any positive integer
    gain, and any bounded DC offset, the energy-envelope fingerprint
    is UNCHANGED; a per-frame gain edit (a genuine loudness change)
    must CHANGE it. Documents the operator's invariance boundary."""
    import numpy as np

    from python_plugins_spark.operators.phash import audio_energy_bits

    frames, frame_len = 16, 128
    g = data.draw(st.integers(min_value=0, max_value=12))
    k = data.draw(st.integers(min_value=1, max_value=5))
    c = data.draw(st.integers(min_value=-100, max_value=100))
    mask_mod = data.draw(st.integers(min_value=1, max_value=4))

    base_pattern = np.array([2, 1, 0, 1] * (frame_len // 4), dtype=np.int64)
    amps = np.array(
        [100 + (g * 11 + f * 23) % 173 for f in range(frames)], dtype=np.int64
    )
    pcm = -(amps[:, None] * base_pattern[None, :]).reshape(frames * frame_len)

    fp = audio_energy_bits(pcm, frames=frames)
    # sign mask: x^2 cancels exactly
    idx = np.arange(len(pcm))
    sign = np.where(idx % (mask_mod + 1) == 0, -1, 1)
    assert audio_energy_bits(pcm * sign, frames=frames) == fp
    # positive gain: energies scale k^2, every comparison preserved
    assert audio_energy_bits(pcm * k, frames=frames) == fp
    # bounded DC offset: 2|c||S_i - S_j| stays below the energy gap
    # for this family (amps >= 100 => gap >= 192*200 per unit
    # amplitude step vs 256*|c|), so no bit flips
    assert audio_energy_bits(pcm + c, frames=frames) == fp
    # NOT invariant: a per-frame gain edit reorders the envelope
    edited = pcm.copy().reshape(frames, frame_len)
    edited[0] *= 1000  # frame 0 becomes the loudest
    assert audio_energy_bits(edited.reshape(-1), frames=frames) != fp


@given(st.text(max_size=300))
@settings(max_examples=100, deadline=None)
def test_langid_tier_classifiers_total(text):
    """The per-script tier scalar references are total over arbitrary
    text: every input yields a known label, never an exception —
    the same guarantee the base classifier carries."""
    from python_plugins_spark.operators.langid import (
        CJK_LANGS, CYR_LANGS, classify_arabic_script_py,
        classify_cjk_py, classify_cyrillic_py,
    )

    assert classify_cyrillic_py(text) in set(CYR_LANGS) | {"unknown"}
    assert classify_cjk_py(text) in set(CJK_LANGS) | {"unknown"}
    assert classify_arabic_script_py(text) in {"ar", "fa", "ur", "unknown"}
