"""Pipeline builder semantics: CLI-style specs, implicit stream
wiring, fan-out, @file shortcuts (reference parse/setup
scripts/dbitool.pl:66-155, :671-680, :454-459)."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest

from dbitool_spark import testrow
from dbitool_spark.io import read_csv, read_ndjson
from dbitool_spark.pipeline import Pipeline


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="dbitool_pipe_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture()
def csv_path(spark, tmpdir):
    from dbitool_spark.io import write_csv

    path = os.path.join(tmpdir, "in.csv")
    # single file: raw-line copies (@shortcut test) must see exactly
    # one header line, not one per part file
    write_csv(testrow.dataframe(spark, 50), path, single_file=True)
    return path


def test_cli_spec_chain(spark, tmpdir, csv_path):
    out = os.path.join(tmpdir, "out.ndjson")
    p = Pipeline(spark)
    p.add(f"csvread:in={csv_path}")
    p.add("column:clist=row,hex,string")
    p.add(f"ndjsonwrite:out={out}")
    p.run()
    back = read_ndjson(spark, out)
    assert sorted(back.columns) == ["hex", "row", "string"]
    assert back.count() == 50


def test_named_streams_and_fanout(spark, tmpdir, csv_path):
    """One source stream feeding two sinks — the reference's multicast
    (each reader gets the full row set)."""
    out_a = os.path.join(tmpdir, "a.csv")
    out_b = os.path.join(tmpdir, "b.ndjson")
    p = Pipeline(spark)
    p.add(f"csvread:in={csv_path}:out=rows")
    p.add("column", **{"in": "rows", "clist": "row,string", "out": "slim"})
    p.add(f"csvwrite:in=slim:out={out_a}")
    p.add(f"ndjsonwrite:in=rows:out={out_b}")
    p.run()
    assert read_csv(spark, out_a).count() == 50
    assert read_ndjson(spark, out_b).count() == 50


def test_stream_access_is_lazy_no_sink_side_effects(spark, tmpdir, csv_path):
    out = os.path.join(tmpdir, "never.csv")
    p = Pipeline(spark)
    p.add(f"csvread:in={csv_path}:out=rows")
    p.add(f"csvwrite:in=rows:out={out}")
    df = p.stream("rows")
    assert df.count() == 50
    assert not os.path.exists(out), "stream() must not fire sink writes"


def test_file_shortcut(spark, tmpdir, csv_path):
    """@filename expands to fileread/filewrite by position
    (reference scripts/dbitool.pl:93-103)."""
    out = os.path.join(tmpdir, "copy.txt")
    p = Pipeline(spark)
    p.add(f"@{csv_path}")
    p.add(f"filewrite:out={out}:single_file=1")
    p.run()
    assert read_csv(spark, out).count() == 50  # byte-preserved lines


def test_union_module(spark, tmpdir, csv_path):
    p = Pipeline(spark)
    p.add(f"csvread:in={csv_path}:out=a")
    p.add(f"csvread:in={csv_path}:out=b")
    p.add("union", **{"in": "a,b", "out": "both"})
    assert p.stream("both").count() == 100


def test_named_shortcut_reuse(spark, tmpdir, csv_path):
    """reference TODO:15-22 (`name@file`, which the reference itself
    never implemented): the shortcut binds the synthesized fileread to
    a stream NAME, so later modules address the same file by name —
    one scan, fan-out persist — instead of tripping the reference's
    'file read by more than one module' restriction."""
    out_rows = os.path.join(tmpdir, "rows.ndjson")
    out_copy = os.path.join(tmpdir, "copy.txt")
    p = Pipeline(spark)
    p.add("csvread:in=raw@" + csv_path + ":out=rows")   # declares stream 'raw'
    p.add(f"ndjsonwrite:in=rows:out={out_rows}")
    p.add(f"filewrite:in=raw:out={out_copy}:single_file=1")  # reuse by NAME
    p.run()
    assert read_csv(spark, out_copy).count() == 50
    from dbitool_spark.io import json_io

    assert json_io.read_ndjson(spark, out_rows).count() == 50

    # idempotent re-declaration with the SAME path is reuse...
    p2 = Pipeline(spark)
    p2.add("csvread:in=raw@" + csv_path + ":out=a")
    p2.add("csvread:in=raw@" + csv_path + ":out=b")
    assert p2.stream("b").count() == 50
    # ...but a DIFFERENT path under the same name is an error
    with pytest.raises(ValueError, match="already reads"):
        p2.add("csvread:in=raw@/somewhere/else.csv:out=c")

    # file* modules cannot take the shortcut (reference :94)
    p3 = Pipeline(spark)
    with pytest.raises(ValueError, match="cannot shortcut"):
        p3.add(f"fileread:in=x@{csv_path}")


def test_named_shortcut_positional_guards(spark, tmpdir, csv_path):
    """Positional name@file enforces the same guards as the inline
    form: no silent rebinding of a declared shortcut, no shadowing of
    an injected or existing stream (review finding r9)."""
    p = Pipeline(spark)
    p.add(f"x@{csv_path}")
    p.add(f"filewrite:in=x:out={os.path.join(tmpdir, 'c.txt')}")
    # next positional @ is back in SOURCE position (after a sink):
    # re-declaring the name with a different path must refuse
    with pytest.raises(ValueError, match="already reads"):
        p.add("x@/somewhere/else.csv")

    p2 = Pipeline(spark)
    p2.add_source_df("data", spark.createDataFrame([(1,)], "a int"))
    with pytest.raises(ValueError, match="collides"):
        p2.add(f"data@{csv_path}")


def test_named_shortcut_positional(spark, tmpdir, csv_path):
    """Positional `name@file`: fileread bound to the stream name in
    source position, filewrite FROM the named stream in sink position
    — so one read can feed both a parse chain and a raw copy."""
    out = os.path.join(tmpdir, "copy2.txt")
    p = Pipeline(spark)
    p.add(f"lines@{csv_path}")  # fileread, stream 'lines'
    p.add("csvread:in=lines:out=rows")
    p.add(f"filewrite:in=lines:out={out}:single_file=1")
    p.run()
    assert p.stream("rows").count() == 50
    assert read_csv(spark, out).count() == 50

    # a source path that merely CONTAINS no @ stays a plain path; a
    # direct-path source with an @shortcut refuses rather than mis-wires
    p2 = Pipeline(spark)
    with pytest.raises(ValueError, match="reads its in= path directly"):
        p2.add(f"jsonread:in=x@{csv_path}")


def test_concat_module_positional_zip(spark):
    """reference TODO:74-76 'a join without any expression': the
    positional column zip, deterministic only under per-input total
    orders; inner truncates, full NULL-pads, missing order= refuses."""
    a = spark.createDataFrame([(3, "c"), (1, "a"), (2, "b")], "k int, name string")
    b = spark.createDataFrame([(20, "y"), (10, "x")], "id int, name string")
    p = Pipeline(spark)
    p.add_source_df("a", a)
    p.add_source_df("b", b)
    p.add("concat", **{"in": "a,b", "order1": "k", "order2": "id", "out": "z"})
    z = p.stream("z")
    # duplicate 'name' from input 2 takes the _2 suffix
    assert z.columns == ["pos", "k", "name", "id", "name_2"]
    rows = [(r.pos, r.k, r.name, r.id, r.name_2) for r in z.orderBy("pos").collect()]
    assert rows == [(1, 1, "a", 10, "x"), (2, 2, "b", 20, "y")]  # truncated

    p2 = Pipeline(spark)
    p2.add_source_df("a", a)
    p2.add_source_df("b", b)
    p2.add(
        "concat",
        **{"in": "a,b", "order1": "k", "order2": "id", "how": "full", "out": "z"},
    )
    full = p2.stream("z").orderBy("pos").collect()
    assert len(full) == 3 and full[2].id is None  # NULL-padded tail

    p3 = Pipeline(spark)
    p3.add_source_df("a", a)
    p3.add_source_df("b", b)
    p3.add("concat", **{"in": "a,b", "order1": "k", "out": "z"})
    with pytest.raises(ValueError, match="order2"):
        p3.stream("z")


def test_reference_pod_shortcut_equivalence(spark, tmpdir, csv_path):
    """The reference POD's own equivalence example runs verbatim:
    `csvread:in=@a.csv ndjsonwrite:out=@b.ndjson`
    (scripts/dbitool.pl:3214-3217) — in=@ expands to a fileread raw
    stream, out=@ strips on the fused sink (same file, same bytes)."""
    out = os.path.join(tmpdir, "b.ndjson")
    p = Pipeline(spark)
    p.add(f"csvread:in=@{csv_path}:header=1")
    p.add(f"ndjsonwrite:out=@{out}:single_file=1")
    p.run()
    from dbitool_spark.io import json_io

    assert json_io.read_ndjson(spark, out).count() == 50
    assert not os.path.exists(f"@{out}")  # no literal-@ file

    p2 = Pipeline(spark)
    p2.add(f"csvread:in=@{csv_path}")
    with pytest.raises(ValueError, match="cannot bind a sink"):
        p2.add(f"ndjsonwrite:out=s@{out}")


def test_literal_at_in_path_is_not_a_shortcut(spark, tmpdir, csv_path):
    """A path that merely CONTAINS '@' with a non-identifier prefix
    (in=/tmp/data@v2.csv, out=/tmp/b@2x.ndjson) is a literal path —
    the reference only expands a LEADING '@' (regex ^\\@,
    scripts/dbitool.pl:93) and the named form requires an identifier
    prefix (advisory r9). Both sides must pass through verbatim."""
    at_in = os.path.join(tmpdir, "data@v2.csv")
    with open(at_in, "w") as fh:
        fh.write("k,v\n" + "".join(f"{i},x{i}\n" for i in range(50)))
    at_out = os.path.join(tmpdir, "b@2x.ndjson")
    p = Pipeline(spark)
    p.add(f"csvread:in={at_in}:header=1")
    p.add(f"ndjsonwrite:out={at_out}:single_file=1")
    p.run()
    from dbitool_spark.io import json_io

    assert json_io.read_ndjson(spark, at_out).count() == 50
    assert os.path.exists(at_out)  # literally that filename, no strip


def test_concat_suffix_collision_keeps_incrementing(spark):
    """Duplicate-column suffixing is collision-checked: when input 1
    already carries a literal 'v_2', input 2's duplicate 'v' must NOT
    also become 'v_2' (two identical names, ambiguous downstream) —
    it increments to the first free suffix (advisory r9)."""
    a = spark.createDataFrame([(1, "a", "lit")], "k int, v string, v_2 string")
    b = spark.createDataFrame([(10, "x")], "id int, v string")
    p = Pipeline(spark)
    p.add_source_df("a", a)
    p.add_source_df("b", b)
    p.add("concat", **{"in": "a,b", "order1": "k", "order2": "id", "out": "z"})
    z = p.stream("z")
    assert z.columns == ["pos", "k", "v", "v_2", "id", "v_3"]
    row = z.collect()[0]
    assert (row.v, row.v_2, row.v_3) == ("a", "lit", "x")


def test_concat_module_three_inputs(spark):
    """N-ary zip: inner join folds across all inputs, truncating to
    the shortest; second-input duplicate names suffix by input index."""
    a = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "k int, v string")
    b = spark.createDataFrame([(10, "x"), (20, "y")], "id int, v string")
    c = spark.createDataFrame([(9, 100), (8, 200), (7, 300)], "ck int, w int")
    p = Pipeline(spark)
    p.add_source_df("a", a)
    p.add_source_df("b", b)
    p.add_source_df("c", c)
    p.add(
        "concat",
        **{"in": "a,b,c", "order1": "k", "order2": "id", "order3": "ck",
           "out": "z"},
    )
    z = p.stream("z")
    assert z.columns == ["pos", "k", "v", "id", "v_2", "ck", "w"]
    rows = [tuple(r) for r in z.orderBy("pos").collect()]
    assert rows == [
        (1, 1, "a", 10, "x", 7, 300),
        (2, 2, "b", 20, "y", 8, 200),
    ]


def test_unknown_module_and_stream_errors(spark):
    p = Pipeline(spark)
    with pytest.raises(ValueError, match="unknown module"):
        p.add("nosuchmod:in=x")
    p2 = Pipeline(spark)
    with pytest.raises(ValueError, match="no input stream"):
        p2.add("column:clist=a")


def test_gzip_codec_chain_raw(spark, tmpdir, csv_path):
    """The reference's `... | gzip | @file` chain
    (scripts/dbitool.pl:3017-3037): the gzip module tags its output
    stream so the downstream sink compresses — no explicit
    compression= argument."""
    import glob

    out = os.path.join(tmpdir, "out.csv.gz")
    p = Pipeline(spark)
    p.add(f"@{csv_path}")  # fileread: raw lines
    p.add("gzip", out="gz")
    p.add(f"filewrite:in=gz:out={out}:single_file=1")
    p.run()
    assert glob.glob(os.path.join(out, "*.gz")), "sink must emit gzip part files"
    assert read_csv(spark, out).count() == 50  # transparent decompress


def test_gzip_codec_chain_row_sink(spark, tmpdir, csv_path):
    import glob

    out = os.path.join(tmpdir, "rows.csv.gz")
    p = Pipeline(spark)
    p.add(f"csvread:in={csv_path}:out=rows")
    p.add("gzip", **{"in": "rows", "out": "gz"})
    p.add(f"csvwrite:in=gz:out={out}")
    p.run()
    assert glob.glob(os.path.join(out, "*.gz"))
    back = read_csv(spark, out)
    assert back.count() == 50


def test_gzip_into_noncompressible_sink_raises(spark, tmpdir, csv_path):
    p = Pipeline(spark)
    p.add(f"csvread:in={csv_path}:out=rows")
    p.add("gzip", **{"in": "rows", "out": "gz"})
    p.add(f"bsonwrite:in=gz:out={os.path.join(tmpdir, 't.bson')}")
    with pytest.raises(ValueError, match="cannot compress"):
        p.run()


def test_ndb_module_three_modes(spark, tmpdir, csv_path):
    """Reference dbitoolmod_ndb (scripts/dbitool.pl:2561-2694): in only
    = sink upsert, out only = replay source, in+out = passthrough."""
    nd = os.path.join(tmpdir, "nd")
    p = Pipeline(spark)
    p.add(f"csvread:in={csv_path}:out=rows")
    p.add(f"ndb:fname={nd}:key=row", **{"in": "rows"})
    p.run()

    p2 = Pipeline(spark)
    p2.add(f"ndb:fname={nd}:key=row:out=replayed")
    replayed = p2.stream("replayed")
    assert replayed.count() == 50
    assert sorted(replayed.columns) == sorted(testrow.HEADER)

    out = os.path.join(tmpdir, "through.csv")
    p3 = Pipeline(spark)
    p3.add(f"csvread:in={csv_path}:out=rows")
    p3.add(f"ndb:fname={nd}:key=row", **{"in": "rows", "out": "through"})
    p3.add(f"csvwrite:in=through:out={out}")
    p3.run()
    assert read_csv(spark, out).count() == 50  # rows passed through
    p4 = Pipeline(spark)
    p4.add(f"ndb:fname={nd}:key=row:out=replayed")
    assert p4.stream("replayed").count() == 50  # upsert stayed keyed


def test_ndb_module_stream_does_not_upsert(spark, tmpdir, csv_path):
    """upsert is a write action: stream() wiring must not fire it."""
    nd = os.path.join(tmpdir, "nd_lazy")
    p = Pipeline(spark)
    p.add(f"csvread:in={csv_path}:out=rows")
    p.add(f"ndb:fname={nd}:key=row", **{"in": "rows", "out": "through"})
    assert p.stream("through").count() == 50
    committed = [
        n
        for n in (os.listdir(nd) if os.path.isdir(nd) else [])
        if n.startswith("v")
        and n[1:].isdigit()
        and os.path.exists(os.path.join(nd, n, "_committed"))
    ]
    assert not committed, f"stream() must not write ndb state: {committed}"


def test_spreadsheet_modules(spark, tmpdir, csv_path):
    out = os.path.join(tmpdir, "sheet.csv")
    p = Pipeline(spark)
    p.add(f"spreadsheetread:in={csv_path}:out=rows")
    p.add(f"spreadsheetwrite:in=rows:out={out}")
    p.run()
    back = read_csv(spark, out)
    assert back.count() == 50
    for r in back.select(*testrow.HEADER).collect():
        testrow.check(tuple(r))


def test_jdbc_module_contracts(spark):
    """No server/driver jar in this environment; the argument contract
    (reference dbitoolmoddbdread :1318-1385, mysqlselect :1387-1459)
    must still enforce query XOR table XOR input stream."""
    p = Pipeline(spark)
    # URLs contain ':' so they ride in kwargs, not the CLI string
    p.add("jdbcselect", url="jdbc:mysql://h/d", out="r")
    with pytest.raises(ValueError, match="exactly one"):
        p.stream("r")

    p2 = Pipeline(spark)
    p2.add("mysqlselect:host=h:table=t:out=r")
    with pytest.raises(ValueError, match="db"):
        p2.stream("r")

    p3 = Pipeline(spark)
    p3.add("mysqlselect:db=d:out=r")
    with pytest.raises(ValueError, match="query nor table"):
        p3.stream("r")


def test_reference_entrypoint3_stdin_csvread_jsonwrite_stdout(
    spark, tmpdir, monkeypatch, capsys
):
    """Reference example 1 (scripts/dbitool.pl:3273-3276): TestRow CSV
    on stdin -> csvread -> jsonwrite -> stdout; every value checked
    with the TestRow exact-regeneration oracle. Tab-separated: the
    reference's unquoted comma wire is ambiguous for the uuencode
    column (its own documented limitation — see csv_io docstring);
    TestRow values never contain tabs."""
    import io as _io
    import json as _json

    lines = ["\t".join(testrow.HEADER)] + [
        "\t".join(str(v) for v in r) for r in testrow.rows(10)
    ]
    monkeypatch.setattr("sys.stdin", _io.StringIO("\n".join(lines) + "\n"))
    out = os.path.join(tmpdir, "t.json")
    p = Pipeline(spark)
    p.add("stdin:out=raw")
    # raw stream in, not a path
    p.add("csvread", **{"in": "raw", "out": "rows", "sep": "\t"})
    p.add(f"jsonwrite:in=rows:out={out}")
    p.add("stdout:in=rows")
    p.run()
    with open(out) as fh:
        docs = _json.load(fh)
    assert len(docs) == 10
    for d in docs:
        testrow.check(tuple(d[h] for h in testrow.HEADER))
    printed = capsys.readouterr().out.strip().splitlines()
    assert len(printed) == 10


def test_pipeline_observability(spark, tmpdir, csv_path):
    """Module tree + per-sink row counts land in the engine log
    (reference printtree + per-module stats)."""
    from dbitool_spark.obs import EngineLog

    log = EngineLog(level=2)
    out = os.path.join(tmpdir, "obs.ndjson")
    p = Pipeline(spark, log=log)
    p.add(f"csvread:in={csv_path}:out=rows")
    p.add("column:clist=row,string", **{"in": "rows", "out": "slim"})
    p.add(f"ndjsonwrite:in=slim:out={out}")
    p.run()
    msgs = [r[2] for r in log.rows]
    assert any(m.startswith("csvread in=-") for m in msgs)
    assert any(m.startswith("column in=rows out=slim") for m in msgs)
    assert any("ndjsonwrite@slim rows=50" in m for m in msgs)
    # the log itself is a queryable DataFrame
    assert log.log_df(spark).count() == len(log.rows)


def test_cli_main_end_to_end(spark, tmp_path):
    """python -m dbitool_spark surface: @file shortcuts, module specs,
    --listmodules, --verbose log capture (reference CLI grammar,
    scripts/dbitool.pl:66-155)."""
    import contextlib
    import io as _io

    from dbitool_spark import testrow
    from dbitool_spark.__main__ import main
    from dbitool_spark.io import csv_io

    src = str(tmp_path / "in.csv")
    csv_io.write_csv(testrow.dataframe(spark, 6), src, single_file=True)
    out = str(tmp_path / "out.ndjson")
    rc = main([f"@{src}", "csvread", f"ndjsonwrite:out={out}:single_file=1"])
    assert rc == 0
    import glob
    import json as _json

    lines = []
    for f in glob.glob(out + "/*.json") + ([out] if not glob.glob(out + "/*.json") else []):
        with open(f) as fh:
            lines += [l for l in fh.read().splitlines() if l.strip()]
    assert len(lines) == 6
    assert {_json.loads(l)["row"] for l in lines} == {str(i) for i in range(6)}

    buf = _io.StringIO()
    with contextlib.redirect_stdout(buf):
        assert main(["--listmodules"]) == 0
    mods = buf.getvalue().split()
    assert "csvread" in mods and "ndjsonwrite" in mods


def test_pipeline_knobs_thread_into_modules(spark, tmp_path):
    """--errorsize/--memorylimit are real engine knobs, not parsed-and-
    dropped flags: a Pipeline(errorsize=N) aborts a quarantine=1 source
    at >= N corrupt rows, and memorylimit caps the stdin/bounded-edge
    row defaults (reference scripts/dbitool.pl:38-40, :234-243)."""
    import pytest as _pytest

    from dbitool_spark.obs import ErrorSizeExceeded
    from dbitool_spark.pipeline import Pipeline

    src = str(tmp_path / "bad.ndjson")
    os.makedirs(src)
    with open(os.path.join(src, "part.json"), "w") as fh:
        fh.write('{"a": 1}\n{"a": broken\nnot json\n{"a": 2}\n')
    schema = "a bigint, _corrupt_record string"

    # errorsize=2 <= 2 corrupt rows -> abort
    p = Pipeline(spark, errorsize=2)
    p.add(f"ndjsonread:in={src}:quarantine=1:schema={schema}", out="rows")
    with _pytest.raises(ErrorSizeExceeded):
        p.stream("rows").collect()

    # errorsize above the corrupt count -> good rows flow through;
    # the corrupt column is auto-appended to a schema that lacks it
    p2 = Pipeline(spark, errorsize=10)
    p2.add(f"ndjsonread:in={src}:quarantine=1:schema=a bigint", out="rows")
    got = sorted(r.a for r in p2.stream("rows").collect())
    assert got == [1, 2]

    # quarantine without any schema is an explicit error, not a no-op
    p2b = Pipeline(spark)
    with _pytest.raises(ValueError, match="quarantine=1 requires"):
        p2b.add(f"ndjsonread:in={src}:quarantine=1", out="rows").stream("rows")

    # memorylimit threads into bounded sinks: jsonwrite past the cap aborts
    from dbitool_spark import testrow
    from dbitool_spark.io import csv_io

    csv_src = str(tmp_path / "in.csv")
    csv_io.write_csv(testrow.dataframe(spark, 8), csv_src, single_file=True)
    out = str(tmp_path / "out.json")
    p3 = Pipeline(spark, memorylimit=3)
    p3.add(f"csvread:in={csv_src}", out="rows")
    p3.add(f"jsonwrite:out={out}", **{"in": "rows"})
    with _pytest.raises(MemoryError):
        p3.run()


def test_user_declared_corrupt_column_untouched_without_flag(spark, tmp_path):
    """A user who declares their own _corrupt_record column WITHOUT
    quarantine=1 must get it back verbatim — no silent row dropping,
    no errorsize abort (review finding: the split was gated on column
    presence instead of the request)."""
    src = str(tmp_path / "mixed.ndjson")
    os.makedirs(src)
    with open(os.path.join(src, "part.json"), "w") as fh:
        fh.write('{"a": 1}\nbroken line\n{"a": 2}\nworse\nworst\n')
    p = Pipeline(spark)  # default errorsize=3 would abort if mis-gated
    p.add(
        f"ndjsonread:in={src}:schema=a bigint, _corrupt_record string",
        out="rows",
    )
    rows = p.stream("rows").collect()
    assert len(rows) == 5
    assert "_corrupt_record" in p.stream("rows").columns
    assert sum(r._corrupt_record is not None for r in rows) == 3


def test_quarantine_rejected_on_raw_stream_branch(spark, tmp_path):
    """quarantine=1 on the raw-stream parse path fails fast instead of
    silently dropping the flag."""
    import pytest as _pytest

    raw = str(tmp_path / "raw.txt")
    with open(raw, "w") as fh:
        fh.write("a\n1\n")
    p = Pipeline(spark)
    p.add(f"fileread:in={raw}", out="lines")
    p.add("csvread:quarantine=1", **{"in": "lines", "out": "rows"})
    with _pytest.raises(ValueError, match="raw-stream parse"):
        p.stream("rows")


def test_cli_composition_across_r9_modules(spark, tmp_path):
    """One CLI invocation chains the round-9 surface: a NAMED
    positional shortcut (lines@file) read by TWO consumers (parse
    chain + raw copy — the exact reuse the reference TODO:15-22
    wanted), an inline named shortcut on a second source, and the
    concat module zipping both streams positionally."""
    import glob as _glob
    import json as _json

    from dbitool_spark.__main__ import main

    fa = str(tmp_path / "a.csv")
    with open(fa, "w") as fh:
        fh.write("k,name\n2,b\n1,a\n3,c\n")
    fb = str(tmp_path / "b.csv")
    with open(fb, "w") as fh:
        fh.write("id,w\n20,y\n10,x\n")
    out = str(tmp_path / "zip.ndjson")
    copy = str(tmp_path / "copy.txt")
    rc = main([
        f"lines@{fa}",
        "csvread:in=lines:out=left:header=1:schema=k int, name string",
        f"csvread:in=rawb@{fb}:out=right:header=1:schema=id int, w string",
        "concat:in=left,right:order1=k:order2=id:out=z",
        f"ndjsonwrite:in=z:out={out}:single_file=1",
        f"filewrite:in=lines:out={copy}:single_file=1",
    ])
    assert rc == 0
    lines = []
    for f in _glob.glob(out + "/*.json*") + ([out] if os.path.isfile(out) else []):
        with open(f) as fh:
            lines += [l for l in fh.read().splitlines() if l.strip()]
    rows = sorted(
        (d["pos"], d["k"], d["name"], d["id"], d["w"])
        for d in map(_json.loads, lines)
    )
    assert rows == [(1, 1, "a", 10, "x"), (2, 2, "b", 20, "y")]
    copied = []
    for f in _glob.glob(copy + "/part-*") + ([copy] if os.path.isfile(copy) else []):
        with open(f) as fh:
            copied += [l for l in fh.read().splitlines() if l.strip()]
    assert len(copied) == 4  # header + 3 raw rows, reused by NAME


def test_cli_composition_across_r8_modules(spark, tmp_path):
    """One CLI invocation chains the round-8 module surface the way
    the reference's own chained-conversion example does
    (scripts/dbitool.pl:3273-3276): tar container -> csvread (raw
    upstream) -> eval projection -> fan-out into a gzip'd ndjson sink
    AND a chartwrite svg — container source, raw-stream parsing,
    expression transform, fan-out persist, codec tagging, and a
    driver-side document sink all wired by the spec grammar alone."""
    import glob as _glob
    import gzip as _gzip
    import io as _io
    import json as _json
    import tarfile

    from dbitool_spark.__main__ import main
    from dbitool_spark.io import chart_io

    tp = str(tmp_path / "data.tar")
    with tarfile.open(tp, "w") as tf:
        info = tarfile.TarInfo("rows.csv")
        body = b"k,n\na,1\nb,2\na,3\n"
        info.size = len(body)
        tf.addfile(info, _io.BytesIO(body))
    out = str(tmp_path / "out.ndjson")
    svg = str(tmp_path / "chart.svg")
    rc = main([
        f"tarread:in={tp}:drop_provenance=1",
        "csvread:header=1:schema=k string, n int",
        "eval:expr=n * 10 as n10:out=rows",
        # two consumers of `rows` — fan-out persist through the CLI
        f"ndjsonwrite:in=rows:out={out}:single_file=1",
        f"chartwrite:in=rows:x=k:y=n10:out={svg}",
    ])
    assert rc == 0
    lines = []
    for f in _glob.glob(out + "/*.json*") + ([out] if os.path.isfile(out) else []):
        op = _gzip.open if f.endswith(".gz") else open
        with op(f, "rt") as fh:
            lines += [l for l in fh.read().splitlines() if l.strip()]
    got = sorted((_json.loads(l)["k"], _json.loads(l)["n10"]) for l in lines)
    assert got == [("a", 10), ("a", 30), ("b", 20)]
    with open(svg, encoding="utf-8") as fh:
        bars = chart_io.parse_svg_bars(fh.read())
    assert [(k, v) for k, v, _ in bars] == [("a", 10.0), ("b", 20.0), ("a", 30.0)]


def test_concat_suffix_collision_within_same_input(spark):
    """Review r10: the suffix collision check must also consult the
    CURRENT input's own columns — input 2 = [id, v, v_2] would
    otherwise rename its 'v' to 'v_2', creating two identical names
    inside one frame, and the later rename of the original 'v_2'
    renames BOTH (AMBIGUOUS_REFERENCE)."""
    a = spark.createDataFrame([(1, "a")], "k int, v string")
    b = spark.createDataFrame([(10, "x", "lit")], "id int, v string, v_2 string")
    p = Pipeline(spark)
    p.add_source_df("a", a)
    p.add_source_df("b", b)
    p.add("concat", **{"in": "a,b", "order1": "k", "order2": "id", "out": "z"})
    z = p.stream("z")
    assert z.columns == ["pos", "k", "v", "id", "v_3", "v_2"]
    row = z.collect()[0]
    assert (row.v, row.v_3, row.v_2) == ("a", "x", "lit")


def test_named_shortcut_warns_when_value_is_existing_file(spark, tmpdir):
    """ADVICE r10: a bare relative name like data@v2.csv satisfies the
    named-shortcut grammar but may also name a real file on disk — the
    shortcut reading wins (documented), but it must WARN so the silent
    rebind is visible; ./-prefixing forces the literal-path reading.
    (Wiring-level assertions: the JVM's cwd does not follow os.chdir,
    so relative paths are not executable here — the grammar decision,
    not the scan, is under test.)"""
    import warnings

    def _write(name):
        with open(name, "w") as fh:
            fh.write("k,name\n1,a\n")

    cwd = os.getcwd()
    os.chdir(tmpdir)
    try:
        # the in= value ITSELF exists as a file -> ambiguous -> warn;
        # the shortcut reading still wins (stream 'data' reads v2.csv)
        _write("data@v2.csv")
        _write("v2.csv")
        p = Pipeline(spark)
        with pytest.warns(UserWarning, match="also exists"):
            p.add("csvread:in=data@v2.csv:out=rows")
        assert p._shortcuts == {"data": "v2.csv"}

        # idempotent re-registration of the SAME spec: already bound,
        # no second warning (ADVICE r11)
        with warnings.catch_warnings():
            warnings.simplefilter("error")
            p.add("csvread:in=data@v2.csv:out=rows2")
        assert p._shortcuts == {"data": "v2.csv"}

        # ./-prefix forces the literal path: no warning, no shortcut
        p2 = Pipeline(spark)
        with warnings.catch_warnings():
            warnings.simplefilter("error")
            p2.add("csvread:in=./data@v2.csv:out=rows")
        assert p2._shortcuts == {}
        assert p2._specs[-1].args["in"] == "./data@v2.csv"

        # unambiguous named shortcut (no same-named file): silent
        os.remove("data@v2.csv")
        p3 = Pipeline(spark)
        with warnings.catch_warnings():
            warnings.simplefilter("error")
            p3.add("csvread:in=data@v2.csv:out=rows")
        assert p3._shortcuts == {"data": "v2.csv"}
    finally:
        os.chdir(cwd)

def test_raw_source_consumes_injected_stream(spark, tmp_path):
    """Review finding: csvread's in= must recognize a stream injected
    via add_source_df instead of treating the name as a file path."""
    raw = spark.createDataFrame(
        [("a,b",), ("1,2",), ("3,4",)], "value string"
    )
    p = Pipeline(spark)
    p.add_source_df("rawlines", raw)
    p.add("csvread:in=rawlines:out=rows:header=1")
    got = {(r.a, r.b) for r in p.stream("rows").collect()}
    assert got == {("1", "2"), ("3", "4")}


def test_ndb_mid_chain_default_wires(spark, tmpdir, csv_path):
    """Review finding: a mid-chain ndb with no in= must consume the
    previous module's out per the pipeline grammar — it previously
    became a silent replay source and dropped the upstream rows."""
    nd = os.path.join(tmpdir, "nd_defwire")
    p = Pipeline(spark)
    p.add(f"csvread:in={csv_path}:out=rows")
    p.add(f"ndb:fname={nd}:key=row")  # no in=: defaults to 'rows'
    p.run()
    p2 = Pipeline(spark)
    p2.add(f"ndb:fname={nd}:key=row:out=replayed")  # source position
    assert p2.stream("replayed").count() == 50  # the rows were upserted


def test_transform_out_shortcut_writes_file(spark, tmp_path, csv_path):
    """Review finding: out=@path on a TRANSFORM previously created a
    dead stream literally named '@path' and wrote nothing. It now
    synthesizes the reference's filewrite; the named form also binds
    the stream."""
    dst = str(tmp_path / "first_col.txt")
    p = Pipeline(spark)
    p.add(f"csvread:in={csv_path}:out=rows:header=1")
    p.add("eval:expr=concat(row, '') as line")
    p.add(f"column:clist=line:out=kept@{dst}")
    p.run()
    assert os.path.exists(dst)
    body = "".join(
        open(os.path.join(dst, f)).read()
        for f in os.listdir(dst)
        if not f.startswith(("_", "."))
    )
    assert len(body.splitlines()) == 50
    # the named form bound the stream for later readers in one build
    p2 = Pipeline(spark)
    p2.add(f"csvread:in={csv_path}:out=rows:header=1")
    p2.add("eval:expr=concat(row, '') as line")
    p2.add(f"column:clist=line:out=kept@{tmp_path}/again.txt")
    p2.add("filter:expr=line is not null:in=kept:out=kept2")
    assert p2.stream("kept2").count() == 50


def test_cli_colon_values_rejoin(spark):
    """Review finding: values containing ':' (JDBC urls, s3:// paths)
    were inexpressible in the CLI string form — '='-less tokens (and
    non-identifier-key tokens like url query params) now re-join the
    previous argument's value."""
    p = Pipeline(spark)
    mod = p._parse_cli("jdbcselect:url=jdbc:derby:/tmp/db;user=x:table=t")
    assert mod.args["url"] == "jdbc:derby:/tmp/db;user=x"
    assert mod.args["table"] == "t"
    mod2 = p._parse_cli("csvread:in=s3://bucket/key.csv:out=rows")
    assert mod2.args["in"] == "s3://bucket/key.csv"
    with pytest.raises(ValueError, match="malformed"):
        p._parse_cli("csvread:banana")  # first token still must be k=v


def test_cli_colon_rejoin_warns_on_trailing_identifier(spark):
    """ADVICE r15: the re-join rule silently absorbed a typo'd
    trailing argument missing its '=' (csvread:...:heade). A trailing
    bare-identifier token now warns; legitimate scheme/path
    continuations (jdbc:derby:/path, s3://...) stay silent."""
    import warnings

    p = Pipeline(spark)
    with pytest.warns(UserWarning, match="missing its '='"):
        mod = p._parse_cli("csvread:in=f.csv:heade")
    # still re-joined (the grammar has no bare flags) — only warned
    assert mod.args["in"] == "f.csv:heade"
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        p._parse_cli("jdbcselect:url=jdbc:derby:/tmp/db:table=t")
        p._parse_cli("csvread:in=s3://bucket/key.csv:out=rows")


def test_errorsize_zero_rejected(spark, tmp_path):
    """Review finding: errorsize=0 aborted even a clean quarantined
    read (0 >= 0). The reference validates 1..256 outright; so do we
    (lower bound)."""
    f = tmp_path / "good.csv"
    f.write_text("a,b\n1,2\n")
    p = Pipeline(spark)
    p.add(
        f"csvread:in={f}:out=rows:header=1:quarantine=1:errorsize=0:"
        "schema=a string,b string"
    )
    with pytest.raises(ValueError, match="invalid errorsize"):
        p.stream("rows").count()


def test_stream_static_filter_reserved_columns_guarded(spark):
    """Review finding: a stream already carrying __k/__bench was
    silently clobbered / made ambiguous by the decontamination join
    scaffolding — now a loud reserved-name error."""
    from dbitool_spark import streaming

    bench = spark.createDataFrame([("x y z",)], "gram string")
    bad = spark.createDataFrame([(1, "t", 2)], "doc_id bigint, text string, __k bigint")
    with pytest.raises(ValueError, match="reserved"):
        streaming.stream_static_filter_contaminated(bad, bench)
