"""The three workloads. Each `call` drives the engine's public API over
one generated input set and checks the result against the planted
truth; the runner times call + check together.

`call_s` is a workload's nominal call time on a 4-vCPU host; the
runner turns --seconds into a fixed number of timed calls with it.
`call(spark, inputs, out, tr)` returns a `Check`. `tr` opens spans
(a no-op outside the traced run) around the lazy calls whose work only
runs at the action that follows them.
"""

from __future__ import annotations

import contextlib
import os
import random
from dataclasses import dataclass

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from dbitool_spark import ndb, streaming, testrow
from dbitool_spark.obs import EngineLog
from dbitool_spark.ops import dedup, similarity, text
from dbitool_spark.pipeline import Pipeline

import gen


@dataclass
class Check:
    ok: bool
    drop_recall: float  # share of what the call must remove that it removed
    keep_precision: float  # share of what the call must keep that it kept
    detail: str = ""


class NoTrace:
    @staticmethod
    def span(name: str):
        return contextlib.nullcontext()


class EtlIngest:
    """csvread (quarantine=1) -> column -> filter -> fan-out to gzip
    ndjsonwrite + parquetwrite. Must drop the planted malformed lines
    and the filtered rows; must keep every other row, byte-exact."""

    name = "etl_ingest"
    warmup_calls = 3
    call_s = 2.0
    sizes = {"full": dict(rows=30_000, files=4, malformed=40), "tiny": dict(rows=2_000, files=2, malformed=5)}

    def generate(self, rng: random.Random, root: str, size: str) -> gen.EtlInputs:
        return gen.gen_etl(rng, root, **self.sizes[size])

    def call(self, spark, inp: gen.EtlInputs, out: str, tr=NoTrace) -> Check:
        log = EngineLog(level=1)
        p = Pipeline(spark, log=log, errorsize=inp.malformed + 1)
        p.add(
            "csvread",
            **{"in": inp.path, "out": "rows", "schema": gen.ETL_SCHEMA, "quarantine": 1, "escape": '"'},
        )
        p.add("column", clist=gen.ETL_CLIST, out="slim")
        p.add("filter", expr=gen.ETL_FILTER, out="kept")
        p.add("ndjsonwrite", **{"in": "kept", "out": f"{out}/ndjson", "compression": "gzip"})
        p.add("parquetwrite", **{"in": "kept", "out": f"{out}/parquet"})
        p.run()

        quarantined = sum(
            int(msg.split()[0]) for _, mod, msg, _ in log.rows if mod == "csvread" and msg.endswith("rows quarantined")
        )
        table = pq.read_table(f"{out}/parquet", columns=list(testrow.HEADER))
        parquet_rows = list(zip(*(table.column(c).to_pylist() for c in testrow.HEADER)))
        bad = 0
        for r in parquet_rows:
            try:
                testrow.check(r)
            except AssertionError:
                bad += 1
        ndjson_rows = sorted(tuple(d[c] for c in testrow.HEADER) for d in gen.gz_ndjson_rows(f"{out}/ndjson"))
        ids = [r[0] for r in parquet_rows]
        got = set(ids)
        filtered = inp.rows - inp.malformed - len(inp.expected)
        dropped = min(quarantined, inp.malformed) + filtered - len(got - inp.expected)
        ok = (
            bad == 0
            and quarantined == inp.malformed
            and len(ids) == len(got) == len(inp.expected)
            and got == inp.expected
            and ndjson_rows == sorted(parquet_rows)
        )
        return Check(
            ok,
            dropped / (inp.malformed + filtered),
            (len(got & inp.expected) - bad) / len(inp.expected),
            f"quarantined={quarantined}/{inp.malformed} rows={len(ids)}/{len(inp.expected)} bad={bad}",
        )


class CorpusDedup:
    """quality + language filter -> exact dedup -> MinHash near-dup
    pairs and embedding near-dup pairs -> keep one representative per
    connected component. Must keep exactly one document of every
    planted cluster and none of the junk."""

    name = "corpus_dedup"
    warmup_calls = 2
    call_s = 3.0
    sizes = {
        "full": dict(originals=500, exact=40, near=40, semantic=25, junk=25, files=4),
        "tiny": dict(originals=300, exact=20, near=20, semantic=10, junk=10, files=2),
    }

    def generate(self, rng: random.Random, root: str, size: str) -> gen.CorpusInputs:
        return gen.gen_corpus(rng, root, **self.sizes[size])

    def call(self, spark, inp: gen.CorpusInputs, out: str, tr=NoTrace) -> Check:
        docs = spark.read.parquet(inp.path)
        with tr.span("ops.text"):
            scored = text.lang_id(text.quality_score(docs))
            clean = (
                scored.filter((F.col("quality_score") >= gen.QUALITY_MIN) & (F.col("lang_pred") == "en"))
                .select("id", "text", "embedding")
                .localCheckpoint(eager=True)
            )
        with tr.span("ops.dedup.exact"):
            uniq = dedup.dedup_exact(clean, ["text"]).localCheckpoint(eager=True)
        text_pairs = dedup.minhash_near_dup_pairs(uniq, "id", "text")
        vec_pairs = similarity.embedding_near_dup_pairs(uniq, id_col="id", vec_col="embedding", dim=gen.DIM)
        with tr.span("ops.dedup.cc"):
            pairs = text_pairs.select("id_a", "id_b").union(vec_pairs.select("id_a", "id_b"))
            kept = {r[0] for r in dedup.dedup_keep_representative(uniq, pairs, "id").select("id").collect()}

        survivors = [len(kept.intersection(c)) for c in inp.clusters]
        removed = sum(min(len(c) - 1, len(c) - s) for c, s in zip(inp.clusters, survivors))
        ok = all(s == 1 for s in survivors) and not (kept & inp.junk)
        return Check(
            ok,
            removed / inp.planted,
            sum(s > 0 for s in survivors) / len(inp.clusters),
            f"kept={len(kept)} clusters={len(inp.clusters)} junk_kept={len(kept & inp.junk)}",
        )


class StreamUpsert:
    """stream_ndjson -> stream_upsert_ndb into a fresh NdbTable, then a
    probe lookup. Every probed key must read its last write; keys never
    written must read NULL."""

    name = "stream_upsert"
    warmup_calls = 2
    call_s = 4.5
    max_files_per_trigger = 2
    sizes = {
        "full": dict(files=6, rows_per_file=1_000, keys=3_000, probes=1_000),
        "tiny": dict(files=4, rows_per_file=300, keys=500, probes=100),
    }

    def generate(self, rng: random.Random, root: str, size: str) -> gen.StreamInputs:
        return gen.gen_stream(rng, root, **self.sizes[size])

    def call(self, spark, inp: gen.StreamInputs, out: str, tr=NoTrace) -> Check:
        table = ndb.NdbTable(spark, os.path.join(out, "table"), key="k")
        src = streaming.stream_ndjson(
            spark, inp.path, gen.STREAM_SCHEMA, max_files_per_trigger=self.max_files_per_trigger
        )
        streaming.stream_upsert_ndb(
            src, table, checkpoint=os.path.join(out, "checkpoint"), order_by="seq", timeout_sec=120
        )
        with tr.span("ndb.lookup"):
            probe = spark.createDataFrame([(k,) for k in inp.probe], "k long")
            rows = table.lookup(probe, how="left").collect()

        got = {r["k"]: (r["v"], r["seq"]) for r in rows}
        right = sum(got.get(k) == inp.latest.get(k, (None, None)) for k in inp.probe)
        fresh = sum(got.get(k) == inp.latest[k] for k in inp.superseded)
        ok = len(rows) == len(got) == len(inp.probe) and right == len(inp.probe)
        return Check(
            ok,
            fresh / len(inp.superseded),
            right / len(inp.probe),
            f"rows={len(rows)} right={right}/{len(inp.probe)}",
        )


WORKLOADS = {w.name: w for w in (EtlIngest(), CorpusDedup(), StreamUpsert())}
