"""Seeded benchmark inputs.

The seed selects a block of ``n_convs`` consecutive conversation indices
for ``sources.transcripts.gen_conversation``. Every 100 consecutive
indices hold exactly one long conversation, so each block has the same
format mix and nearly the same turn count (~20.9 turns per conversation).

One input property is not evened out by the block size: the generator
keeps a 9 MB oversize payload for ~1 turn in 1500, and those ~28 payloads
per 2000 conversations carry most of the block's bytes. Their count varies
from 16 to 37 between such blocks, and each moves a job pass by ~45 ms on
4 cores, so the count alone swings a pass by about ±7%. So seed ``s``
takes the first block, scanning from block ``s * SEARCH_STRIDE``, whose
oversize count lies in ``OVERSIZE_PER_1000`` scaled to the block size
(around the generator's mean); every seed then carries the same share of
the size-limit path, with different content.

The program under test only ever sees the generated rows, written to
parquet during set-up.
"""

from __future__ import annotations

import os

import pandas as pd

from docling_spark.schema import TRANSCRIPTS_SCHEMA
from docling_spark.sources.transcripts import (
    _h, gen_conversation, n_turns_for_conv)

SEARCH_STRIDE = 64
OVERSIZE_PER_1000 = (14, 15)

COLUMNS = [f.name for f in TRANSCRIPTS_SCHEMA.fields]

# tool hints of the turns the service clients send (the formats a
# docling-serve client would upload as documents)
SERVICE_TOOLS = ("html", "md", "csv", "pdfish")
# an HTTP request carries one document; the corpus's rare multi-MB
# oversize blobs are request-size outliers, not documents a client
# uploads through the JSON API
MAX_SOURCE_CHARS = 1 << 20


def oversize_count(start: int, end: int) -> int:
    """Oversize payloads among conversations ``[start, end)``: the
    generator's own selection (``make_turn``: malformed, oversize kind,
    kept), evaluated without building the payloads."""
    n = 0
    for conv_idx in range(start, end):
        for turn_idx in range(n_turns_for_conv(conv_idx)):
            key = _h(conv_idx, turn_idx)
            n += (_h(key, "fmt") % 100 < 2 and _h(key, "mk") % 3 == 2
                  and _h(key, "keep") % 10 == 0)
    return n


def conv_range(seed: int, n_convs: int) -> tuple[int, int]:
    """The seed's block of conversation indices."""
    lo, hi = (round(k * n_convs / 1000) for k in OVERSIZE_PER_1000)
    for block in range(seed * SEARCH_STRIDE, (seed + 1) * SEARCH_STRIDE):
        start = block * n_convs
        if lo <= oversize_count(start, start + n_convs) <= hi:
            return start, start + n_convs
    raise ValueError(f"no block for seed {seed} has {lo}-{hi} oversize "
                     "payloads")


def _generate(batches):
    for pdf in batches:
        rows: list[dict] = []
        for conv_idx in pdf["id"].tolist():
            rows.extend(gen_conversation(int(conv_idx)))
        yield pd.DataFrame(rows, columns=COLUMNS)


def write_corpus(spark, path: str, start: int, end: int,
                 n_files: int) -> None:
    """Generate conversations ``[start, end)`` in Spark and write them as
    ``n_files`` parquet files of nearly equal row counts, rows spread by
    key hash. A scan then has one split per file, and no file holds more
    than its share of the long conversations."""
    (spark.range(start, end, numPartitions=n_files)
     .mapInPandas(_generate, schema=TRANSCRIPTS_SCHEMA)
     .repartition(n_files, "conv_id", "turn_idx")
     .write.mode("overwrite").parquet(path))


def flush(path: str) -> None:
    """Write the corpus files through to disk. Otherwise the kernel writes
    them back ~30 s after set-up, in the middle of the loop, and on a slow
    disk the file creations of the job passes wait for it."""
    for dirpath, _, names in os.walk(path):
        for name in names:
            fd = os.open(os.path.join(dirpath, name), os.O_RDONLY)
            try:
                os.fsync(fd)
            finally:
                os.close(fd)


def service_sources(start: int, end: int, per_tool: int) -> list[dict]:
    """The first ``per_tool`` html, md, csv and pdfish turns of
    conversations ``[start, end)``, as ``{"text", "tool"}`` dicts, ordered
    so that entry ``i`` has tool ``SERVICE_TOOLS[(i // 4) % 4]``. With the
    clients' 3-convert-1-chunk cycle over ``i % 4``, every 16 consecutive
    requests then send each tool as 3 converts and 1 chunk, whatever the
    seed."""
    by_tool: dict[str, list[dict]] = {t: [] for t in SERVICE_TOOLS}
    for conv_idx in range(start, end):
        for row in gen_conversation(conv_idx):
            got = by_tool.get(row["tool"])
            if got is not None and len(got) < per_tool and \
                    len(row["text"]) <= MAX_SOURCE_CHARS:
                got.append({"text": row["text"], "tool": row["tool"]})
        if all(len(v) == per_tool for v in by_tool.values()):
            break
    n = len(SERVICE_TOOLS)
    return [by_tool[SERVICE_TOOLS[(i // n) % n]][(i // (n * n)) * n + i % n]
            for i in range(n * per_tool)]
