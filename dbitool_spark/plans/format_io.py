"""Oracle-checked format round-trip queries (SURVEY.md §2.1/§2.2).

Each query writes a test table through one of the engine's format
sinks into a scratch directory, reads it back through the matching
source, and returns the round-tripped rows. The DuckDB oracle is the
straight SELECT over the original parquet — so a green row proves the
sink+source pair preserves values exactly, not merely that it runs
(the r1 lesson: no vacuous greens).

Typed columns cross the text formats explicitly: doubles survive via
Spark's round-trippable repr; timestamps are emitted as formatted
strings in the RESULT (never raw) so engine timezone handling can't
skew the comparison.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dbitool_spark import catalog
from dbitool_spark.io import bson_io, csv_io, db, fixedwidth, json_io, xml_io
from dbitool_spark.ops.column import project


def _scratch(name: str) -> str:
    return tempfile.mkdtemp(prefix=f"dbitool_fmt_{name}_")


# --- composite multi-format chains (r8 registry merge policy) --------
#
# The reference's own chained-conversion example (csv -> json -> xml in
# one pipeline, scripts/dbitool.pl:3273-3276) is the model: one entry
# drives SEVERAL sink+source pairs in sequence, so a single green row
# proves every codec in the chain preserves values exactly. The
# per-codec round-trips are pinned separately in
# tests/test_io_roundtrip.py.


def _nation_retyped(df: DataFrame) -> DataFrame:
    """Re-type nation coming back from a stringly wire (fixed-width
    and xlsx carry strings)."""
    return df.select(
        F.col("n_nationkey").cast("int").alias("n_nationkey"),
        "n_name",
        F.col("n_regionkey").cast("int").alias("n_regionkey"),
    )


def _nation_fw_xlsx_json(spark: SparkSession, sf_dir: str, d: str) -> DataFrame:
    """The shared first three hops of the nation chains: nation →
    fixed-width → xlsx (own-spec OOXML codec, offset x=1, y=2) →
    bounded JSON → typed rows."""
    from dbitool_spark.io import spreadsheet_io

    nation = catalog.load(spark, sf_dir, "nation")

    fw = os.path.join(d, "nation.fw")
    fixedwidth.write_fixedwidth(nation, fw, [12, 20, 12])
    hop1 = _nation_retyped(fixedwidth.read_fixedwidth(spark, fw, [12, 20, 12]))

    xlsx = os.path.join(d, "nation.xlsx")
    spreadsheet_io.write_spreadsheet(hop1, xlsx, sheet="nation", x=1, y=2)
    hop2 = _nation_retyped(
        spreadsheet_io.read_spreadsheet(spark, xlsx, sheet="nation", x=1, y=2)
    )

    js = os.path.join(d, "nation.json")
    json_io.write_json(hop2, js)
    return json_io.read_json(
        spark, js, schema="n_nationkey int, n_name string, n_regionkey int"
    )


def format_chain_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents (free text with punctuation — the quoting/escape
    stress content) → quoted CSV → NDJSON → single-file ZIP →
    distributed zipread → raw->row NDJSON parse → back. Covers the
    csvwrite/read pair on hostile text, the ndjsonwrite pair, the
    TODO:48-51 zip codec both directions (write_zip's bounded
    single-archive edge, read_zip's binaryFile+mapInPandas member
    explode), and the raw-stream parse boundary — one driver row, five
    sink/source pairs."""
    from dbitool_spark.io import archive_io, text_io

    docs = catalog.load(spark, sf_dir, "documents")
    d = _scratch("chain_docs")
    schema = "doc_id bigint, text string, lang string, source string, n_chars bigint"

    csvp = os.path.join(d, "documents.csv")
    csv_io.write_csv(docs, csvp)
    hop1 = csv_io.read_csv(spark, csvp, schema=schema)

    ndj = os.path.join(d, "documents.ndjson")
    json_io.write_ndjson(hop1, ndj)

    zp = os.path.join(d, "documents.zip")
    archive_io.write_zip(
        text_io.read_text(spark, ndj), zp, member="documents.ndjson"
    )
    back = json_io.parse_ndjson_lines(
        archive_io.read_zip(spark, zp).select("value"), schema=schema
    )
    return project(back, ["doc_id", "text", "lang", "source", "n_chars"])


def format_chain_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders (timestamps + doubles) → NDJSON → CSV (sep='|', gzip) →
    back. Timestamps ride NDJSON as ISO strings and are formatted to a
    plain string before the CSV hop (engine-neutral); the CSV hop
    carries the typed doubles/bigints through sep/gzip."""
    orders = catalog.load(spark, sf_dir, "orders")
    d = _scratch("chain_orders")

    ndj = os.path.join(d, "orders.ndjson")
    json_io.write_ndjson(orders, ndj)
    hop1 = json_io.read_ndjson(
        spark,
        ndj,
        schema="o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp_ntz, o_orderpriority string",
    ).select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss").alias("orderdate"),
        "o_orderpriority",
    )

    csvp = os.path.join(d, "orders.csv")
    csv_io.write_csv(hop1, csvp, sep="|", compression="gzip")
    back = csv_io.read_csv(
        spark,
        csvp,
        sep="|",
        schema="o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
        "o_totalprice double, orderdate string, o_orderpriority string",
    )
    return project(
        back,
        ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "orderdate",
         "o_orderpriority"],
    )


def format_chain_nation_xmlbson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Five-format chain: nation → fixed-width → xlsx → bounded JSON →
    XML → BSON → back, one entry covering the fixedwidth, spreadsheet,
    json, xml, and bson write/read pairs (XML/BSON are
    table-agnostic). The first three hops are _nation_fw_xlsx_json's;
    the XML and BSON reads take an explicit schema."""
    d = _scratch("chain_nation5")
    schema = "n_nationkey int, n_name string, n_regionkey int"
    hop3 = _nation_fw_xlsx_json(spark, sf_dir, d)

    xmlp = os.path.join(d, "nation.xml")
    xml_io.write_xml(hop3, xmlp, root_tag="nations", row_tag="nation")
    hop4 = xml_io.read_xml(spark, xmlp, row_tag="nation", schema=schema)

    bsonp = os.path.join(d, "nation.bson")
    bson_io.write_bson(hop4, bsonp)
    back = bson_io.read_bson(spark, bsonp, schema=schema)
    return project(back, ["n_nationkey", "n_name", "n_regionkey"])


FORMAT_CHAIN_NATION_XMLBSON_SQL = (
    "SELECT n_nationkey, n_name, n_regionkey FROM nation"
)


def sqlite_query_from_stream_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's streamed-SQL entry point, end to end
    (lifecycle §3.2, scripts/dbitool.pl:1442-1457): the SQL text
    itself arrives on an upstream RAW STREAM — here a text file read
    through the engine's fileread source — is drained by
    db.query_from_stream (bounded collect; SQL text is tiny by
    contract), and executes inside the source database via the
    distributed partitioned sqlite read: the sqliteinsert +
    partitioned sqliteselect pair plus the query-from-stream
    signature."""
    from dbitool_spark.io import text_io

    part = catalog.load(spark, sf_dir, "part")
    d = _scratch("sqlite_qstream")
    dbf = os.path.join(d, "t.db")
    db.write_sqlite(part, dbf, "part", mode="overwrite")

    # the SQL text arrives as a raw upstream stream (reference: a
    # fileread feeding mysqlselect/sqliteselect's query input)
    sql_path = os.path.join(d, "query.sql")
    with open(sql_path, "w") as fh:
        fh.write(
            "SELECT p_partkey, p_name, p_brand, p_type, p_size, p_retailprice\n"
            "FROM part\n"
            "WHERE p_size >= 10\n"
        )
    sql_stream = text_io.read_text(spark, sql_path)
    query = db.query_from_stream(sql_stream)

    back = db.read_sqlite(
        spark, dbf, query=query, partition_column="p_partkey", num_partitions=4
    )
    return back.select(
        "p_partkey",
        "p_name",
        "p_brand",
        "p_type",
        F.col("p_size").cast("int").alias("p_size"),
        "p_retailprice",
    )


SQLITE_QUERY_FROM_STREAM_PART_SQL = """
SELECT p_partkey, p_name, p_brand, p_type, p_size, p_retailprice
FROM part WHERE p_size >= 10
"""


def xls_roundtrip_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nation through the own-spec legacy BIFF8 codec (io/xls_codec.py:
    [MS-CFB] container + SST/LABELSST/NUMBER records, pure stdlib —
    reference spreadsheetread handles .xls via Spreadsheet::Read,
    scripts/dbitool.pl:2696-2784) at a (x=1, y=2) offset. Bounded edge
    like every whole-sheet format; nation is a constant-size
    dimension."""
    from dbitool_spark.io import spreadsheet_io

    nation = catalog.load(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    path = os.path.join(_scratch("xls"), "nation.xls")
    spreadsheet_io.write_spreadsheet(nation, path, sheet="nation", x=1, y=2)
    back = spreadsheet_io.read_spreadsheet(spark, path, sheet="nation", x=1, y=2)
    return back.select(
        F.col("n_nationkey").cast("bigint").alias("n_nationkey"),
        "n_name",
        F.col("n_regionkey").cast("bigint").alias("n_regionkey"),
    )


XLS_ROUNDTRIP_NATION_SQL = "SELECT n_nationkey, n_name, n_regionkey FROM nation"


def quarantine_corrupt_ndjson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-channel semantics end to end: documents written as
    NDJSON plus two injected malformed lines, read back PERMISSIVE —
    good rows and quarantined rows must split exactly (the reference's
    error stream, tolerate-then-abort guarded by errorsize)."""
    from dbitool_spark.obs import check_errorsize, split_quarantine

    docs = catalog.load(spark, sf_dir, "documents")
    d = _scratch("quarantine")
    path = os.path.join(d, "docs.ndjson")
    json_io.write_ndjson(docs, path, single_file=True)
    part = [f for f in os.listdir(path) if f.endswith(".json")][0]
    with open(os.path.join(path, part), "a") as fh:
        fh.write('{"doc_id": broken\nnot json at all\n')
    for crc in os.listdir(path):
        if crc.endswith(".crc"):
            os.remove(os.path.join(path, crc))
    parsed = json_io.read_ndjson(
        spark,
        path,
        schema="doc_id bigint, text string, lang string, source string, "
        "n_chars bigint, _corrupt_record string",
        permissive_corrupt_col="_corrupt_record",
    )
    good, bad = split_quarantine(parsed)
    n_bad = check_errorsize(bad, errorsize=10)  # below threshold: no abort
    return good.agg(F.count(F.lit(1)).alias("n_good")).withColumn(
        "n_bad", F.lit(n_bad).cast("long")
    )


def quarantine_corrupt_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV-side error channel: customer written as CSV plus injected
    malformed lines (wrong arity), read back PERMISSIVE with a typed
    schema — rows that fail the schema land in the quarantine column,
    good rows count exactly (reference error stream + errorsize,
    scripts/dbitool.pl:234-243, over the csvread module)."""
    from dbitool_spark.obs import check_errorsize, split_quarantine

    cust = catalog.load(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal"
    )
    d = _scratch("quarantine_csv")
    path = os.path.join(d, "cust.csv")
    csv_io.write_csv(cust, path, single_file=True)
    part = [f for f in os.listdir(path) if f.endswith(".csv")][0]
    with open(os.path.join(path, part), "a") as fh:
        # arity-violating rows: PERMISSIVE null-extends short rows but
        # a non-numeric key with a typed bigint column quarantines
        fh.write("not_a_number,garbage,xx\nalso bad,,\n")
    for crc in os.listdir(path):
        if crc.endswith(".crc"):
            os.remove(os.path.join(path, crc))
    parsed = csv_io.read_csv(
        spark,
        path,
        schema="c_custkey bigint, c_name string, c_acctbal double, _corrupt_record string",
        permissive_corrupt_col="_corrupt_record",
    )
    good, bad = split_quarantine(parsed)
    n_bad = check_errorsize(bad, errorsize=10)  # below threshold: no abort
    return good.agg(F.count(F.lit(1)).alias("n_good")).withColumn(
        "n_bad", F.lit(n_bad).cast("long")
    )


# --- executed JDBC path (r8) -----------------------------------------


DERBY_DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"


def _derby_url(name: str) -> str:
    """Embedded-Derby JDBC URL in a scratch dir. Derby ships inside
    the Spark distribution (metastore dependency), so this is the one
    JDBC engine every Spark install can execute against — which turns
    the mysqlselect/jdbcselect code path from arg-mapping-only into an
    EXECUTED read: same spark.read.format('jdbc') machinery, same
    partitioned scans and pushdown, only the URL differs (io.db
    routes Derby's error log to /tmp before first boot)."""
    return f"jdbc:derby:{os.path.join(_scratch(name), 'db')};create=true"


def jdbc_roundtrip_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """part → real JDBC write (df.write.format('jdbc'), VARCHAR
    column-type mapping) → partitioned JDBC read back (4 range slices
    on p_partkey — each Spark task issues its own bounded SELECT, the
    reference's streamed-resultset analogue at executor parallelism,
    scripts/dbitool.pl:1318-1385). Filters on the returned frame push
    down into the external engine's SQL (PushedFilters shows
    *GreaterThan — JDBC-side, not Spark-side). On a cluster the URL
    points at a server; embedded Derby here proves the identical code
    path in-distribution."""
    part = catalog.load(spark, sf_dir, "part")
    url = _derby_url("jdbc")
    db.write_jdbc(
        part,
        url,
        "part",
        mode="overwrite",
        driver=DERBY_DRIVER,
        createTableColumnTypes="p_name VARCHAR(128), p_brand VARCHAR(32), p_type VARCHAR(64)",
    )
    back = db.read_jdbc(
        spark,
        url,
        table="part",
        driver=DERBY_DRIVER,
        partitionColumn="p_partkey",
        numPartitions="4",
        lowerBound="0",
        upperBound="10000000",
    )
    return back.select(
        "p_partkey",
        "p_name",
        "p_brand",
        "p_type",
        F.col("p_size").cast("int").alias("p_size"),
        "p_retailprice",
    )


JDBC_ROUNDTRIP_PART_SQL = (
    "SELECT p_partkey, p_name, p_brand, p_type, p_size, p_retailprice FROM part"
)


def quarantine_corrupt_formats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite error-channel entry over quarantine_corrupt_csv +
    quarantine_corrupt_ndjson: the
    CSV and NDJSON quarantine splits run in one entry, tagged by
    format, so a single green row proves the PERMISSIVE->split->
    errorsize path for both parsers (reference error stream,
    scripts/dbitool.pl:234-243)."""
    csv_counts = quarantine_corrupt_csv(spark, sf_dir).withColumn(
        "fmt", F.lit("csv")
    )
    ndjson_counts = quarantine_corrupt_ndjson(spark, sf_dir).withColumn(
        "fmt", F.lit("ndjson")
    )
    return csv_counts.unionByName(ndjson_counts).select("fmt", "n_good", "n_bad")


QUARANTINE_CORRUPT_FORMATS_SQL = """
SELECT 'csv' AS fmt, COUNT(*) AS n_good, CAST(2 AS BIGINT) AS n_bad FROM customer
UNION ALL
SELECT 'ndjson' AS fmt, COUNT(*) AS n_good, CAST(2 AS BIGINT) AS n_bad FROM documents
"""


def email_roundtrip_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents per-language summary -> RFC-5322 email with the rows
    as a CSV attachment (io/email_io.py, reference TODO:28-29) ->
    .eml on disk -> MIME parse -> attachment rows back. A green row
    proves the compose/encode/decode path preserves values exactly
    (base64 transfer encoding, quoting, header folding included),
    i.e. the "create a email text with the summary of the process"
    half of the TODO end-to-end; the SMTP "send" half is proven
    against a loopback server in tests/test_todo_modules.py."""
    from dbitool_spark.io import email_io

    docs = catalog.load(spark, sf_dir, "documents")
    agg = (
        docs.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
        .orderBy("lang")
    )
    path = os.path.join(_scratch("email"), "summary.eml")
    csv_text = email_io.df_to_csv_text(agg)
    # language count comes from the rows already fetched for the
    # attachment (csv module handles any quoted newlines) — no second
    # aggregation job, and the label matches what the number counts
    import csv as _csv
    import io as _io

    n_langs = sum(1 for _ in _csv.reader(_io.StringIO(csv_text))) - 1
    msg = email_io.compose_email(
        sender="dbitool@localhost",
        to="user@localhost",
        subject="dbitool_spark process summary",
        body=email_io.summary_body(
            stats={"languages": n_langs},
            log_lines=["per-language document summary attached"],
        ),
        attachments=[("langs.csv", csv_text)],
    )
    email_io.write_eml(msg, path)
    rows = email_io.attachment_rows(email_io.parse_eml(path), "langs.csv")
    return spark.createDataFrame(
        [(r["lang"], int(r["n_docs"]), int(r["total_chars"])) for r in rows],
        "lang string, n_docs bigint, total_chars bigint",
    )


def chart_roundtrip_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events per-type counts -> SVG bar chart AND gnuplot script
    (io/chart_io.py, reference TODO:77-78) -> parse both documents
    back, audit every rendered bar height against the layout contract
    (value/max * plot_h, 2dp), require the two emitters agree, return
    the recovered rows. A green row therefore proves BOTH chart
    backends round-trip values exactly and the internal chart class's
    geometry is correct — not merely that a file got written."""
    from dbitool_spark.io import chart_io

    ev = catalog.load(spark, sf_dir, "events")
    agg = (
        ev.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .orderBy("event_type")
    )
    rows = chart_io.chart_rows(agg, "event_type", "n_events")
    scratch = _scratch("chart")
    svg_path = os.path.join(scratch, "events.svg")
    gp_path = os.path.join(scratch, "events.gp")
    chart_io.write_chart(chart_io.bar_chart_svg(rows, title="events by type"), svg_path)
    chart_io.write_chart(chart_io.gnuplot_script(rows, title="events by type"), gp_path)
    with open(svg_path, encoding="utf-8") as fh:
        bars = chart_io.parse_svg_bars(fh.read())
    with open(gp_path, encoding="utf-8") as fh:
        gp_rows = dict(chart_io.parse_gnuplot_datablock(fh.read()))
    max_v = max(v for _, v in rows)
    plot_h = 400 - 2 * 40  # default height/margin layout contract
    for key, val, height_px in bars:
        want = round(val / max_v * plot_h, 2)
        if abs(height_px - want) > 0.011:
            raise AssertionError(
                f"bar geometry violated for {key!r}: {height_px} != {want}"
            )
        if gp_rows.get(key) != val:
            raise AssertionError(f"gnuplot/svg emitters disagree for {key!r}")
    return spark.createDataFrame(
        [(k, int(v)) for k, v, _ in bars],
        "event_type string, n_events bigint",
    )


def email_chart_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite driver entry for the two TODO-closing document sinks
    (email TODO:28-29, charts TODO:77-78) — merged per the registry
    capacity policy (both constituent functions keep their own pytest
    coverage; one row drives both codepaths). Normalized kind-tagged
    rows: email rows carry the per-language summary recovered from
    the MIME attachment; chart rows carry the per-type counts
    recovered from the SVG/gnuplot documents (geometry-audited)."""
    em = email_roundtrip_documents(spark, sf_dir).select(
        F.lit("email").alias("kind"),
        F.col("lang").alias("key"),
        F.col("n_docs").alias("n"),
        F.col("total_chars").alias("total"),
    )
    ch = chart_roundtrip_events(spark, sf_dir).select(
        F.lit("chart").alias("kind"),
        F.col("event_type").alias("key"),
        F.col("n_events").alias("n"),
        F.lit(None).cast("bigint").alias("total"),
    )
    return em.unionByName(ch)


EMAIL_CHART_ROUNDTRIP_SQL = """
SELECT 'email' AS kind, lang AS key, COUNT(*) AS n,
       CAST(SUM(n_chars) AS BIGINT) AS total
FROM documents GROUP BY lang
UNION ALL
SELECT 'chart' AS kind, event_type AS key, COUNT(*) AS n,
       CAST(NULL AS BIGINT) AS total
FROM events GROUP BY event_type
"""


def format_chain_docs_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kind-tagged composite of the two remaining standalone format
    chains — the r14 merge candidate per the registry capacity policy
    (the email_chart_roundtrip shape): one driver row drives the
    documents chain (quoted CSV → NDJSON → ZIP → zipread → raw parse;
    hostile free text) AND the orders chain (NDJSON → gzip '|' CSV →
    ORC → back; timestamps + typed doubles — the ORC hop rides the
    recovered typed rows through Spark's second native columnar
    format, r12 orcread/orcwrite modules), each through its full
    original codepath. Rows normalize to one schema with NO lossy
    serialization: every recovered column rides as its own field
    (text/lang/source/n_chars for documents, status/date/priority/
    custkey + the DOUBLE o_totalprice for orders), so the union hash
    still proves byte-exact round-trip fidelity of all six
    sink/source pairs —
    separator-free by construction (free text never concatenates with
    other fields)."""
    from dbitool_spark.ops.concurrency import run_parallel

    # r16 optimization round (guide §2.6): the documents chain and the
    # orders chain are independent end to end (every hop stages under
    # its own mkdtemp dir), and each serializes 3 staged write jobs —
    # run them from two driver threads so the six writes overlap. Each
    # chain's own hop ORDER is unchanged (hops depend on the previous
    # hop's files), so the recovered rows are byte-identical.
    def _orders_leg() -> DataFrame:
        # ORC hop: recovered typed rows -> ORC -> back (Spark-native
        # columnar; same pushdown class as parquet, zero extra jars)
        orc_dir = os.path.join(_scratch("chain_docs_orders"), "orders.orc")
        format_chain_orders(spark, sf_dir).write.mode("overwrite").orc(orc_dir)
        return spark.read.orc(orc_dir)

    legs = run_parallel(
        spark,
        [
            ("documents", lambda: format_chain_documents(spark, sf_dir)),
            ("orders", _orders_leg),
        ],
    )
    docs = legs["documents"].select(
        F.lit("documents").alias("kind"),
        F.col("doc_id").alias("key"),
        F.col("text").alias("s1"),
        F.col("lang").alias("s2"),
        F.col("source").alias("s3"),
        F.col("n_chars").cast("string").alias("s4"),
        F.lit(None).cast("double").alias("num"),
    )
    orders = legs["orders"].select(
        F.lit("orders").alias("kind"),
        F.col("o_orderkey").alias("key"),
        F.col("o_orderstatus").alias("s1"),
        F.col("orderdate").alias("s2"),
        F.col("o_orderpriority").alias("s3"),
        F.col("o_custkey").cast("string").alias("s4"),
        F.col("o_totalprice").alias("num"),
    )
    return docs.unionByName(orders).orderBy("kind", "key")


FORMAT_CHAIN_DOCS_ORDERS_SQL = """
SELECT 'documents' AS kind, doc_id AS key, text AS s1, lang AS s2,
       source AS s3, CAST(n_chars AS VARCHAR) AS s4,
       CAST(NULL AS DOUBLE) AS num
FROM documents
UNION ALL
SELECT 'orders' AS kind, o_orderkey AS key, o_orderstatus AS s1,
       strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS s2,
       o_orderpriority AS s3, CAST(o_custkey AS VARCHAR) AS s4,
       o_totalprice AS num
FROM orders
ORDER BY kind, key
"""
