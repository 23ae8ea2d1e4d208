"""Seeded input generators and their planted truth.

Every generator takes a `random.Random` and a target directory, writes
the files the engine will read, and returns the truth the checks need.
The engine only ever sees the files; the truth stays in this process.
"""

from __future__ import annotations

import csv
import gzip
import json
import math
import os
import random
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

from dbitool_spark import testrow
from dbitool_spark.ops.text import LANG_MARKERS

# --- etl_ingest -------------------------------------------------------

ETL_SCHEMA = "row long, " + ", ".join(f"{c} string" for c in testrow.HEADER[1:])
# the projection reorders every column, so a column mix-up in the
# project/write path shows up as a testrow.check failure
ETL_CLIST = ",".join(reversed(testrow.HEADER))
ETL_FILTER = "row % 5 <> 2"


def etl_keeps(n: int) -> bool:
    """Python twin of ETL_FILTER."""
    return n % 5 != 2


@dataclass
class EtlInputs:
    path: str
    rows: int  # lines handed to the engine, malformed ones included
    malformed: int
    expected: frozenset  # row numbers that must come out


def _malformed_line(rng: random.Random, kind: int) -> list[str]:
    word = rng.choice(testrow.WORDS)
    if kind == 0:  # too few fields
        return [str(rng.randrange(10**9)), word]
    if kind == 1:  # non-numeric row number
        return [f"{word}{rng.randrange(1000)}"] + [word] * (len(testrow.HEADER) - 1)
    return [str(rng.randrange(10**9))] + [word] * len(testrow.HEADER)  # too many


def gen_etl(rng: random.Random, root: str, *, rows: int, files: int, malformed: int) -> EtlInputs:
    """testrow CSV split over `files` files, with `malformed` bad lines
    planted at seeded positions. Quoting follows RFC 4180 (doubled
    quotes), which the pipeline reads with escape='"'."""
    os.makedirs(root, exist_ok=True)
    base = rng.randrange(10**7)
    bad_at = set(rng.sample(range(rows), malformed))
    per_file = math.ceil(rows / files)
    expected = set()
    for f in range(files):
        with open(os.path.join(root, f"part-{f:02d}.csv"), "w", newline="") as fh:
            w = csv.writer(fh, lineterminator="\n")
            w.writerow(testrow.HEADER)
            for i in range(f * per_file, min(rows, (f + 1) * per_file)):
                if i in bad_at:
                    w.writerow(_malformed_line(rng, i % 3))
                    continue
                n = base + i
                w.writerow(testrow.row(n))
                if etl_keeps(n):
                    expected.add(n)
    return EtlInputs(root, rows, malformed, frozenset(expected))


# --- corpus_dedup -----------------------------------------------------

DIM = 64
QUALITY_MIN = 0.8


@dataclass
class CorpusInputs:
    path: str
    rows: int
    clusters: list  # one list of doc ids per original: [original, *planted duplicates]
    junk: frozenset  # ids the quality/lang filter must remove
    planted: int = field(init=False)

    def __post_init__(self) -> None:
        self.planted = sum(len(c) - 1 for c in self.clusters)


def _vocab(rng: random.Random, n: int) -> list[str]:
    words = testrow.WORDS
    return sorted({a[: rng.randrange(3, 7)] + b[: rng.randrange(2, 5)] for a in words for b in words})[:n]


def _doc(rng: random.Random, vocab: list[str], stop: tuple) -> list[str]:
    """60-100 words, 30% of them marker words of one language: enough
    for text.quality_score >= QUALITY_MIN on English documents even
    after two words are replaced."""
    n = rng.randrange(60, 100)
    words = [rng.choice(stop) for _ in range(n * 3 // 10)]
    words += [rng.choice(vocab) for _ in range(n - len(words))]
    rng.shuffle(words)
    return words


def _vec(rng: random.Random) -> list[float]:
    return [rng.gauss(0.0, 1.0) for _ in range(DIM)]


def gen_corpus(
    rng: random.Random,
    root: str,
    *,
    originals: int,
    exact: int,
    near: int,
    semantic: int,
    junk: int,
    files: int,
) -> CorpusInputs:
    """Documents with planted exact copies, near copies (two words
    replaced: 3-shingle Jaccard ~0.85, well above the 0.7 threshold)
    and semantic copies (unrelated text, embedding within cosine
    ~0.999 of the original's), plus junk documents (digit soup and
    German) that the quality/language filter must drop. Unrelated
    random documents and vectors sit far below both thresholds."""
    os.makedirs(root, exist_ok=True)
    vocab = _vocab(rng, 3000)
    stop_en = LANG_MARKERS["en"]
    docs: list[tuple[list[str], list[float]]] = [
        (_doc(rng, vocab, stop_en), _vec(rng)) for _ in range(originals)
    ]
    clusters = [[i] for i in range(originals)]
    for kind, count in (("exact", exact), ("near", near), ("semantic", semantic)):
        for src in rng.sample(range(originals), count):
            text, vec = docs[src]
            if kind == "exact":
                dup = (text, vec)
            elif kind == "near":
                text = list(text)
                for pos in rng.sample(range(len(text)), 2):
                    text[pos] = rng.choice(vocab) + "x"
                dup = (text, _vec(rng))
            else:
                dup = (_doc(rng, vocab, stop_en), [x + rng.gauss(0.0, 0.05) for x in vec])
            clusters[src].append(len(docs))
            docs.append(dup)
    junk_ids = []
    for j in range(junk):
        if j % 2:
            text = [str(rng.randrange(10**6)) for _ in range(rng.randrange(60, 100))]
        else:
            text = _doc(rng, vocab, LANG_MARKERS["de"])
        junk_ids.append(len(docs))
        docs.append((text, _vec(rng)))
    # shuffle the id assignment so planted copies are not id-adjacent
    ids = list(range(len(docs)))
    rng.shuffle(ids)
    per_file = math.ceil(len(docs) / files)
    for f in range(files):
        chunk = range(f * per_file, min(len(docs), (f + 1) * per_file))
        table = pa.table(
            {
                "id": pa.array([ids[i] for i in chunk], pa.int64()),
                "text": [" ".join(docs[i][0]) for i in chunk],
                "embedding": pa.array([docs[i][1] for i in chunk], pa.list_(pa.float64())),
            }
        )
        pq.write_table(table, os.path.join(root, f"part-{f:02d}.parquet"))
    return CorpusInputs(
        root,
        len(docs),
        [[ids[i] for i in c] for c in clusters],
        frozenset(ids[i] for i in junk_ids),
    )


# --- stream_upsert ----------------------------------------------------

STREAM_SCHEMA = "k long, v string, seq long"
ZIPF_S = 1.1  # key skew: over 3,000 keys the hottest takes 16% of the writes


@dataclass
class StreamInputs:
    path: str
    rows: int
    probe: list  # probed keys, hits and misses
    latest: dict  # key -> (v, seq) after last-write-wins, probed keys only
    superseded: frozenset  # probed keys written more than once


def gen_stream(
    rng: random.Random,
    root: str,
    *,
    files: int,
    rows_per_file: int,
    keys: int,
    probes: int,
) -> StreamInputs:
    """ndjson batch files whose keys follow a Zipf law over `keys`
    distinct keys, with a global write sequence `seq`. File mtimes
    increase with the sequence, so the file source drains them in write
    order and last-write-wins equals max-seq per key. The probe set
    mixes written keys and keys never written."""
    os.makedirs(root, exist_ok=True)
    # seeded key permutation so hot keys are spread over the key space
    key_ids = rng.sample(range(keys * 4), keys)
    cum, total = [], 0.0
    for i in range(keys):
        total += 1.0 / (i + 1) ** ZIPF_S
        cum.append(total)
    latest: dict[int, tuple[str, int]] = {}
    writes: dict[int, int] = {}
    seq = 0
    mtime = 1_700_000_000
    for f in range(files):
        path = os.path.join(root, f"batch-{f:03d}.json")
        with open(path, "w") as fh:
            for k in rng.choices(key_ids, cum_weights=cum, k=rows_per_file):
                seq += 1
                v = f"v{seq}-{rng.randrange(10**6)}"
                fh.write(json.dumps({"k": k, "v": v, "seq": seq}) + "\n")
                latest[k] = (v, seq)
                writes[k] = writes.get(k, 0) + 1
        os.utime(path, (mtime + f, mtime + f))
    written = sorted(latest)
    hits = rng.sample(written, min(len(written), probes // 2))
    misses = rng.sample([k for k in range(keys * 4, keys * 5)], probes - len(hits))
    probe = hits + misses
    rng.shuffle(probe)
    return StreamInputs(
        root,
        files * rows_per_file,
        probe,
        {k: latest[k] for k in hits},
        frozenset(k for k in hits if writes[k] > 1),
    )


def gz_ndjson_rows(path: str) -> list[dict]:
    """Every row of a directory of gzip ndjson part files."""
    out = []
    for name in sorted(os.listdir(path)):
        if name.endswith(".gz"):
            with gzip.open(os.path.join(path, name), "rt") as fh:
                out.extend(json.loads(line) for line in fh)
    return out
