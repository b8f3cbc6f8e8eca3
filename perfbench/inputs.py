"""Seeded workload inputs, generated once per (workload, seed, size).

The program under test only ever sees the files written here. The
generators are the benchmark's own (they do not call the package's
fixture builders), so a change to the package cannot change the input
the benchmark feeds it.

Layout is fixed per workload and recorded in ``_layout.json`` next to the
data: extraction inputs are ``N_FILES`` equal-row parquet files in
generation order (one scan partition per file under the split settings
``run.py`` passes to the session); the curation input is the single
``documents.parquet`` file the curation plan reads from its table dir.
"""

from __future__ import annotations

import json
import random
import shutil
import time
from dataclasses import dataclass
from pathlib import Path

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

GENERATOR_VERSION = 1

_WORDS = (
    "amber basin cedar delta ember fjord glade harbor inlet juniper kestrel "
    "lagoon meadow nectar orchid prairie quarry ridge summit tundra upland "
    "valley willow yarrow zephyr record shard stream batch merge window "
    "column ledger parser cursor buffer signal vector kernel"
).split()

_BOILER = (
    "<nav><a href='/'>home</a> <a href='/shop'>shop</a> <a href='/help'>help</a></nav>",
    "<footer>terms privacy cookies all rights reserved</footer>",
    "<aside><a href='/t1'>trending</a> <a href='/t2'>popular</a> <a href='/t3'>latest</a></aside>",
    "<div><a href='/r1'>more</a> <a href='/r2'>links</a> <a href='/r3'>for</a> <a href='/r4'>you</a></div>",
    "<script>window.analytics && window.analytics.page();</script>",
)

#: Curation vocabulary: small enough that 3-shingles of unrelated docs
#: rarely collide, so the planted triples are the only near-duplicates.
_DOC_VOCAB = (
    "spark table scan merge join filter window agg sort key row data group "
    "batch stream line part column query value small big fast slow dup the a"
).split()

TRANSCRIPT_SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
    ]
)

DOCS_SCHEMA = pa.schema(
    [
        ("doc_id", pa.int64()),
        ("text", pa.string()),
        ("lang", pa.string()),
        ("source", pa.string()),
        ("n_chars", pa.int64()),
    ]
)

N_FILES = 4
PLANT_PERIOD = 50  # docs with id % 50 < 3 form one planted near-dup triple
PLANT_SIZE = 3


@dataclass(frozen=True)
class Input:
    path: Path  # directory holding the data files
    n_records: int
    gen_s: float  # generation time when the input was first written
    cached: bool


def _sentence(rng: random.Random, lo: int, hi: int) -> str:
    return " ".join(rng.choice(_WORDS) for _ in range(rng.randint(lo, hi))).capitalize() + "."


def _html_turn(rng: random.Random) -> str:
    parts = [rng.choice(_BOILER)]
    for _ in range(rng.randint(1, 3)):
        para = _sentence(rng, 8, 30)
        if rng.random() < 0.15:
            para = para.replace(" ", " &amp; ", 1)
        parts.append(f"<p>{para}</p>")
        if rng.random() < 0.5:
            parts.append(rng.choice(_BOILER))
    return "<body>" + "".join(parts) + "</body>"


def _conversation(rng: random.Random, conv_id: str, turns: list) -> list:
    roles = ("user", "assistant")
    ts = rng.randint(0, 10**12)
    rows = []
    for i, text in enumerate(turns):
        rows.append((conv_id, i, roles[i % 2], text, None, ts))
        ts += rng.randint(5, 600) * 10**6
    return rows


def html_transcripts(seed: int, n_convs: int) -> list:
    """Nearly all turns HTML with boilerplate; 5-9 turns per conversation
    (uniform), no hot conversation."""
    rng = random.Random(seed)
    rows = []
    for c in range(n_convs):
        turns = [
            _html_turn(rng) if rng.random() < 0.97 else _sentence(rng, 6, 30)
            for _ in range(rng.randint(5, 9))
        ]
        rows += _conversation(rng, f"conv-{c:06d}", turns)
    return rows


def planted_docs(seed: int, n_docs: int) -> list:
    """Documents in the near-dup stress shape: ids with
    ``id % PLANT_PERIOD < PLANT_SIZE`` share the base text of id
    ``id - id % PLANT_PERIOD`` plus a 1-3 word per-id tail (Jaccard about
    0.9), so every such triple is one planted cluster."""
    langs = ("en", "en", "en", "de", "fr")
    rows = []
    for i in range(n_docs):
        base = i - i % PLANT_PERIOD if i % PLANT_PERIOD < PLANT_SIZE else i
        body_rng = random.Random(f"{seed}-{base}")
        words = [body_rng.choice(_DOC_VOCAB) for _ in range(40 + body_rng.randrange(40))]
        tail_rng = random.Random(f"{seed}-m{i}")
        words += [tail_rng.choice(_DOC_VOCAB) for _ in range(1 + i % 3)]
        text = " ".join(words)
        rows.append((i, text, langs[tail_rng.randrange(len(langs))], "web", len(text)))
    return rows


def planted_clusters(n_docs: int) -> list:
    """The planted triples as lists of doc ids."""
    return [
        list(range(b, b + PLANT_SIZE))
        for b in range(0, n_docs, PLANT_PERIOD)
        if b + PLANT_SIZE <= n_docs
    ]


def _write_files(rows: list, schema: pa.Schema, out: Path, n_files: int, name: str = "part") -> None:
    cols = list(zip(*rows))
    table = pa.Table.from_arrays([pa.array(c, type=f.type) for c, f in zip(cols, schema)], schema=schema)
    n = table.num_rows
    for j in range(n_files):
        lo, hi = j * n // n_files, (j + 1) * n // n_files
        fname = f"{name}.parquet" if n_files == 1 else f"{name}-{j:02d}.parquet"
        pq.write_table(table.slice(lo, hi - lo), out / fname)


#: workload -> (builder, size, schema, files, file name stem)
_SPECS = {
    "extract_html": (html_transcripts, 2600, TRANSCRIPT_SCHEMA, N_FILES, "part"),
    "curate": (planted_docs, 1000, DOCS_SCHEMA, 1, "documents"),
}


def materialize(workload: str, seed: int, cache_root: Path) -> Input:
    """Return the workload's input for ``seed``, generating it on the
    first request and reusing the cached files afterwards."""
    build, size, schema, n_files, stem = _SPECS[workload]
    path = cache_root / f"{workload}-seed{seed}-n{size}-v{GENERATOR_VERSION}"
    meta_file = path / "_layout.json"
    if meta_file.is_file():
        meta = json.loads(meta_file.read_text())
        return Input(path, meta["n_records"], meta["gen_s"], cached=True)
    t0 = time.perf_counter()
    rows = build(seed, size)
    tmp = path.with_name(path.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    _write_files(rows, schema, tmp, n_files, stem)
    gen_s = time.perf_counter() - t0
    meta = {"workload": workload, "seed": seed, "size": size, "files": n_files, "n_records": len(rows), "gen_s": gen_s}
    (tmp / "_layout.json").write_text(json.dumps(meta, indent=1))
    shutil.rmtree(path, ignore_errors=True)
    tmp.rename(path)
    return Input(path, len(rows), gen_s, cached=False)


def read_frame(inp: Input) -> pd.DataFrame:
    """The input as one pandas frame (for the driver-side oracle)."""
    return pq.read_table(inp.path).to_pandas()
