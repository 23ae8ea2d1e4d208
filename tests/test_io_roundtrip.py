"""Format round-trips with the TestRow fixture — the reference's own
test strategy (SURVEY.md §5: generate deterministic rows, push through
format conversions, check() exact values)."""

from __future__ import annotations

import glob
import gzip as gzmod
import os
import shutil
import tempfile

import pytest

from dbitool_spark import catalog, testrow
from dbitool_spark.io import (
    read_csv,
    read_fixedwidth,
    read_json,
    read_ndjson,
    read_text,
    write_csv,
    write_fixedwidth,
    write_json,
    write_ndjson,
    write_text,
)
from dbitool_spark.ops.column import project
from tests.conftest import SF_SMOKE

N = 200  # fixture rows per test; covers NaN floats and comma-bearing uuencode


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="dbitool_io_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _check_df(df):
    """Exact-value oracle over a collected DataFrame in HEADER order."""
    rows = df.select(*testrow.HEADER).collect()
    assert len(rows) == N
    for r in sorted(rows, key=lambda r: int(r[0])):
        testrow.check(tuple(r))


def test_csv_roundtrip(spark, tmpdir):
    df = testrow.dataframe(spark, N)
    path = os.path.join(tmpdir, "t.csv")
    write_csv(df, path)
    _check_df(read_csv(spark, path))


def test_csv_roundtrip_custom_sep_no_header(spark, tmpdir):
    df = testrow.dataframe(spark, N)
    path = os.path.join(tmpdir, "t.psv")
    write_csv(df, path, sep="|", header=False)
    back = read_csv(spark, path, sep="|", header=False)
    # header=0: Spark names columns _c0.._cN (reference: col1..colN)
    back = back.toDF(*testrow.HEADER)
    _check_df(back)


def test_ndjson_roundtrip(spark, tmpdir):
    df = testrow.dataframe(spark, N)
    path = os.path.join(tmpdir, "t.ndjson")
    write_ndjson(df, path)
    back = read_ndjson(spark, path)  # JSON keys come back sorted
    _check_df(project(back, list(testrow.HEADER)))


def test_json_single_doc_roundtrip(spark, tmpdir):
    df = testrow.dataframe(spark, N)
    path = os.path.join(tmpdir, "t.json")
    write_json(df, path)
    back = read_json(spark, path)
    _check_df(project(back, list(testrow.HEADER)))


def test_json_write_respects_memory_limit(spark, tmpdir):
    df = testrow.dataframe(spark, 50)
    with pytest.raises(MemoryError):
        write_json(df, os.path.join(tmpdir, "t.json"), memory_limit=10)


def test_json_write_respects_byte_limit(spark, tmpdir):
    """The row-count guard alone lets few-but-wide rows hold gigabytes
    driver-side; the byte backstop catches that shape."""
    df = testrow.dataframe(spark, 10)
    with pytest.raises(MemoryError, match="bytes"):
        write_json(df, os.path.join(tmpdir, "t.json"), memory_limit_bytes=64)


def test_json_byte_limit_counts_encoded_bytes_not_chars(spark, tmpdir):
    """The cap says 'bytes', so it must count UTF-8 encoded length: a
    non-ASCII document is up to 4x its unicode character count on
    disk, and a char-count guard under-fires by exactly that factor
    (advisory r9). 30 CJK chars ≈ 42-char JSON row but >90 encoded
    bytes — a 64-byte cap must fire."""
    df = spark.createDataFrame([("漢" * 30,)], "t string")
    with pytest.raises(MemoryError, match="bytes"):
        write_json(df, os.path.join(tmpdir, "t.json"), memory_limit_bytes=64)


def test_fixedwidth_roundtrip(spark, tmpdir):
    df = testrow.dataframe(spark, N)
    # widths wide enough that no value truncates
    widths = [8, 16, 50, 20, 12, 18, 24, 6, 6, 6, 6, 40]
    path = os.path.join(tmpdir, "t.fw")
    write_fixedwidth(df, path, widths)
    _check_df(read_fixedwidth(spark, path, widths))


def test_fixedwidth_truncates_at_width(spark, tmpdir):
    df = testrow.dataframe(spark, 5)
    widths = [8, 4, 50, 20, 12, 18, 24, 6, 6, 6, 6, 40]  # int32 cut to 4
    path = os.path.join(tmpdir, "t.fw")
    write_fixedwidth(df, path, widths)
    # the header line truncates too ("int32" -> "int3", reference
    # semantics), so restore full names explicitly on read
    back = read_fixedwidth(
        spark, path, widths, colnames=list(testrow.HEADER)
    ).collect()
    full = {int(r[0]): r for r in testrow.rows(5)}
    for r in back:
        assert r["int32"] == str(full[int(r["row"])][1])[:4]


def test_fixedwidth_no_header_names(spark, tmpdir):
    df = testrow.dataframe(spark, 10)
    widths = [8, 16, 50, 20, 12, 18, 24, 6, 6, 6, 6, 40]
    path = os.path.join(tmpdir, "t.fw")
    write_fixedwidth(df, path, widths, header=False)
    back = read_fixedwidth(spark, path, widths, header=False)
    assert back.columns == [f"col{i+1}" for i in range(12)]
    assert back.count() == 10


def test_reference_wire_formats_parse(spark, tmpdir):
    """Our readers ingest the reference's exact wire output (the
    ndjson/json generators are byte-validated ports)."""
    nd_path = os.path.join(tmpdir, "ref.ndjson")
    with open(nd_path, "w") as fh:
        fh.write("\n".join(testrow.ndjson_lines(N)))
    _check_df(project(read_ndjson(spark, nd_path), list(testrow.HEADER)))

    j_path = os.path.join(tmpdir, "ref.json")
    with open(j_path, "w") as fh:
        fh.write(testrow.json_doc(N))
    _check_df(project(read_json(spark, j_path), list(testrow.HEADER)))


def test_gzip_csv_roundtrip(spark, tmpdir):
    df = testrow.dataframe(spark, N)
    path = os.path.join(tmpdir, "t.csv.d")
    write_csv(df, path, compression="gzip")
    parts = glob.glob(os.path.join(path, "*.csv.gz"))
    assert parts, "expected gzip part files"
    with gzmod.open(parts[0], "rt") as fh:  # genuinely gzip on disk
        assert fh.readline().startswith("row,")
    _check_df(read_csv(spark, path))


def test_gzip_text_roundtrip(spark, tmpdir):
    lines = testrow.csv_lines(N)
    df = spark.createDataFrame([(l,) for l in lines], "value string")
    path = os.path.join(tmpdir, "t.txt.d")
    write_text(df, path, compression="gzip", single_file=True)
    back = read_text(spark, path)
    got = sorted(r[0] for r in back.collect())
    assert got == sorted(lines)


def test_json_read_respects_memory_limit(spark, tmpdir):
    """jsonread mirrors the reference's in-memory --memorylimit abort
    on the READ side too (scripts/dbitool.pl:40, :777-778): past the
    cap the bounded edge raises instead of silently monopolizing one
    parse task."""
    import pytest as _pytest

    from dbitool_spark.io import json_io

    path = os.path.join(tmpdir, "big.json")
    json_io.write_json(testrow.dataframe(spark, 9), path)
    with _pytest.raises(MemoryError):
        json_io.read_json(spark, path, memory_limit=5)
    assert json_io.read_json(spark, path, memory_limit=9).count() == 9


def test_schemad_raw_parse_is_jvm_side(spark):
    """VERDICT r9: the raw->row boundary with a schema must stay
    JVM-side (F.from_csv / F.from_json) — no per-row Python
    serialization in the plan. A large raw stream through the schema'd
    parse would otherwise pay a silent row-at-a-time Python tax. The
    RDD hop is allowed ONLY on the inference path (bounded inputs)."""
    import contextlib
    import io as _io

    from dbitool_spark.io import csv_io, json_io

    d = tempfile.mkdtemp(prefix="dbitool_jvm_parse_")
    csv_file = os.path.join(d, "lines.csv")
    with open(csv_file, "w") as fh:
        fh.write("k,name\n1,alpha\n2,beta\n")
    raw_csv = read_text(spark, csv_file)
    parsed = csv_io.parse_csv_lines(raw_csv, schema="k int, name string")
    buf = _io.StringIO()
    with contextlib.redirect_stdout(buf):
        parsed.explain("formatted")
    plan = buf.getvalue()
    for marker in ("SerializeFromObject", "ExistingRDD", "BatchEvalPython",
                   "MapPartitions"):
        assert marker not in plan, f"schema'd CSV parse has {marker}:\n{plan}"
    # header line dropped, values parsed and typed
    assert sorted((r.k, r.name) for r in parsed.collect()) == [
        (1, "alpha"), (2, "beta"),
    ]

    nd_file = os.path.join(d, "lines.ndjson")
    with open(nd_file, "w") as fh:
        fh.write('{"k": 1, "name": "alpha"}\n{"k": 2, "name": "beta"}\n')
    raw_nd = read_text(spark, nd_file)
    parsed2 = json_io.parse_ndjson_lines(raw_nd, schema="k int, name string")
    buf2 = _io.StringIO()
    with contextlib.redirect_stdout(buf2):
        parsed2.explain("formatted")
    plan2 = buf2.getvalue()
    for marker in ("SerializeFromObject", "ExistingRDD", "BatchEvalPython",
                   "MapPartitions"):
        assert marker not in plan2, f"schema'd NDJSON parse has {marker}:\n{plan2}"
    assert sorted((r.k, r.name) for r in parsed2.collect()) == [
        (1, "alpha"), (2, "beta"),
    ]


def test_schemad_raw_parse_edge_lines(spark):
    """Review r10 findings: the schema'd raw->row parse must match the
    reader semantics it replaced — a QUOTED header line drops just
    like the plain one (values compared parsed, not byte-equal), a
    data line that happens to share a header field survives (null-safe
    struct compare), and blank/whitespace-only lines never become
    phantom all-null rows (spark.read.csv/json skip them)."""
    from dbitool_spark.io import csv_io, json_io

    raw = spark.createDataFrame(
        [('"k","name"',), ("1,alpha",), ("",), ("   ",), ("\r",), ("k",),
         ("k,name,REALDATA",), ("2,beta",)],
        "value string",
    )
    got = csv_io.parse_csv_lines(raw, schema="k string, name string")
    rows = sorted(((r.k, r.name) for r in got.collect()),
                  key=lambda t: (t[0], t[1] or ""))
    # quoted header dropped; blank/whitespace/CR lines dropped (the
    # CRLF-stream shape); short 'k' line kept (('k', null) is NOT the
    # header); a data line whose first fields mimic the header but
    # carries EXTRA fields kept (the sentinel extra-column test)
    assert rows == [
        ("1", "alpha"), ("2", "beta"), ("k", None), ("k", "name"),
    ]

    nd = spark.createDataFrame(
        [('{"k": 1}',), ("",), ("   ",), ("\t",), ("\r",), ('{"k": 2}',)],
        "value string",
    )
    got2 = json_io.parse_ndjson_lines(nd, schema="k int")
    assert sorted(r.k for r in got2.collect()) == [1, 2]

    # typed casts after the single all-string parse: int/double land
    # typed exactly as the typed from_csv did
    typed = csv_io.parse_csv_lines(
        spark.createDataFrame([("k,v",), ("7,1.5",)], "value string"),
        schema="k int, v double",
    ).collect()
    assert [(r.k, r.v) for r in typed] == [(7, 1.5)]
    assert [f.dataType.simpleString() for f in
            csv_io.parse_csv_lines(
                spark.createDataFrame([("7,1.5",)], "value string"),
                schema="k int, v double", header=False,
            ).schema.fields] == ["int", "double"]


def test_schemad_parse_warns_on_mismatched_header(spark, recwarn):
    """ADVICE r10: header=True with a schema whose field names differ
    from the file's actual header would silently ingest the header as
    a cast-to-null phantom row. The plan-build probe (bounded
    limit(1)) must warn on that mismatch — and stay silent when the
    header matches or when header=False."""
    import warnings

    from dbitool_spark.io import csv_io

    # mismatched header: file says id,label — schema says k,name
    csv_io._WARNED_HEADER_SCHEMAS.clear()  # once-per-schema dedup (r11)
    raw = spark.createDataFrame(
        [("id,label",), ("1,alpha",), ("2,beta",)], "value string"
    )
    with pytest.warns(UserWarning, match="not the schema field names"):
        got = csv_io.parse_csv_lines(raw, schema="k string, name string")
    # the mismatched header is NOT dropped (documented): phantom row
    assert got.count() == 3

    # same schema again: the warning fired once per schema — silent now
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        csv_io.parse_csv_lines(raw, schema="k string, name string").count()

    # probe_header=False: no plan-build job, no warning, fresh schema
    csv_io._WARNED_HEADER_SCHEMAS.clear()
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        off = csv_io.parse_csv_lines(
            raw, schema="k string, name string", probe_header=False
        )
    assert off.count() == 3

    # env kill-switch: SPARK_GRAFT_CSV_HEADER_PROBE=0 disables the
    # default-on probe process-wide
    os.environ["SPARK_GRAFT_CSV_HEADER_PROBE"] = "0"
    try:
        with warnings.catch_warnings():
            warnings.simplefilter("error")
            csv_io.parse_csv_lines(raw, schema="k string, name string").count()
    finally:
        del os.environ["SPARK_GRAFT_CSV_HEADER_PROBE"]

    # matching header: no warning
    ok = spark.createDataFrame(
        [("k,name",), ("1,alpha",)], "value string"
    )
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        parsed = csv_io.parse_csv_lines(ok, schema="k string, name string")
    assert parsed.count() == 1

    # header=False: no probe, no warning
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        nohdr = csv_io.parse_csv_lines(
            raw, schema="a string, b string", header=False
        )
    assert nohdr.count() == 3


def test_format_chain_parallel_legs_round_trip(spark):
    """The thread-parallel docs/orders chains must recover exactly the
    source rows (the union the sequential composite produced) — the
    hop order within each chain is unchanged, only the two chains'
    staged writes overlap."""
    from dbitool_spark.plans.format_io import format_chain_docs_orders

    got = format_chain_docs_orders(spark, SF_SMOKE)
    docs = catalog.load(spark, SF_SMOKE, "documents")
    orders = catalog.load(spark, SF_SMOKE, "orders")
    n_docs, n_orders = docs.count(), orders.count()
    by_kind = {
        r[0]: r[1]
        for r in got.groupBy("kind").count().collect()
    }
    assert by_kind == {"documents": n_docs, "orders": n_orders}
    # full value parity is the oracle parity row's job; the counts pin
    # that neither leg lost or duplicated rows under the thread overlap
