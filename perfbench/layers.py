"""Per-layer probes for the traced run.

Each probe times calls into one layer's public functions from outside:

- ``sources``: a parquet scan of the six input columns into a ``noop`` sink;
- ``operators.extract_ops``: the whole stage (``extract_turns`` into
  ``noop``), an Arrow-in floor (a ``mapInPandas`` that drains its batches)
  and a kernel pass (the same, calling ``extract_payload`` on every row and
  dropping the result). Output build and Arrow-out are the stage minus the
  kernel pass. The parts are reconciled against the stage with the
  single-threaded engine time divided by the task parallelism;
- ``engine``: single-threaded ``detect_format`` / ``extract_payload`` calls
  over the same corpus, per format;
- ``operators.chunker`` / ``operators.export``: one-document
  ``hybrid_chunks`` and ``export_items(fmt="json")`` calls.

The ``jobs.extract_job`` and ``jobs.service`` layers are read from the
job passes and service requests in ``bench.py``.
"""

from __future__ import annotations

import time
from statistics import median

import pandas as pd

from perfbench.spans import quantile

# the columns extract_turns hands to its Python function
STAGE_COLUMNS = ("conv_id", "turn_idx", "role", "ts", "text", "tool")
ENGINE_FORMATS = ("plain", "code", "html", "md", "csv", "pdfish", "vtt",
                  "email", "asciidoc", "latex", "contained")
REPEATS = 3


def _drain(batches):
    """Arrow-in floor: receive every batch as pandas, return nothing."""
    for _ in batches:
        pass
    return iter(())


def _kernel_only(batches):
    """Arrow-in plus the engine call per row, results dropped."""
    from docling_spark.engine.extract import extract_payload

    for pdf in batches:
        for text, tool in zip(pdf["text"].tolist(), pdf["tool"].tolist()):
            extract_payload(text, tool or "")
    return iter(())


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def timed_median(fn, tracer, name: str, repeats: int = REPEATS) -> float:
    walls = []
    for _ in range(repeats):
        with tracer.span(name):
            t0 = time.perf_counter()
            fn()
            walls.append(time.perf_counter() - t0)
    return median(walls)


def scan_s(spark, corpus_path: str, schema, tracer) -> float:
    return timed_median(
        lambda: _noop(spark.read.schema(schema).parquet(corpus_path)),
        tracer, "sources.scan")


def extract_ops_layers(cached, tracer) -> dict:
    """Wall seconds of the stage, the Arrow-in floor and the kernel pass
    over the cached corpus, each the median of ``REPEATS`` passes."""
    from docling_spark.operators.extract_ops import extract_turns

    cols = cached.select(*STAGE_COLUMNS)
    return {
        "stage_s": timed_median(lambda: _noop(extract_turns(cached)), tracer,
                                "operators.extract_ops.extract_turns"),
        "arrow_floor_s": timed_median(
            lambda: _noop(cols.mapInPandas(_drain, "n long")), tracer,
            "operators.extract_ops.arrow_floor"),
        "kernel_pass_s": timed_median(
            lambda: _noop(cols.mapInPandas(_kernel_only, "n long")), tracer,
            "operators.extract_ops.kernel_pass"),
    }


def engine_profile(corpus_path: str, tracer) -> dict:
    """Single-threaded engine calls over every corpus row: per format n,
    input bytes, mean and p99 µs of ``extract_payload``; the mean µs of
    ``detect_format``; the total engine seconds. Rows that come back
    ``failure`` or ``skipped`` count under ``contained``."""
    import glob
    import os

    import pyarrow.parquet as pq

    from docling_spark.engine.extract import (
        DEFAULT_MAX_BYTES, detect_format, extract_payload)

    per: dict[str, list] = {f: [] for f in ENGINE_FORMATS}
    nbytes: dict[str, int] = dict.fromkeys(ENGINE_FORMATS, 0)
    detect_ns: list[int] = []
    clock = time.perf_counter_ns
    with tracer.span("engine.extract_payload"):
        files = sorted(glob.glob(os.path.join(corpus_path, "*.parquet")))
        batches = (b for f in files for b in pq.ParquetFile(f).iter_batches(
            batch_size=2000, columns=["text", "tool"]))
        for batch in batches:
            for text, tool in zip(batch.column("text").to_pylist(),
                                  batch.column("tool").to_pylist()):
                tool = tool or ""
                if text is not None and len(text) <= DEFAULT_MAX_BYTES:
                    t0 = clock()
                    detect_format(text, tool)
                    detect_ns.append(clock() - t0)
                t0 = clock()
                res = extract_payload(text, tool)
                dt = clock() - t0
                fmt = res["format"]
                if res["status"] in ("failure", "skipped") or fmt not in per:
                    fmt = "contained"
                per[fmt].append(dt)
                nbytes[fmt] += len(text.encode("utf-8", "replace")) \
                    if text else 0
    out: dict = {}
    for fmt, ns in per.items():
        out[f"{fmt}.n"] = len(ns)
        out[f"{fmt}.bytes"] = nbytes[fmt]
        out[f"{fmt}.mean_us"] = sum(ns) / len(ns) / 1e3 if ns else 0.0
        out[f"{fmt}.p99_us"] = quantile(ns, 0.99) / 1e3 if ns else 0.0
    out["detect.mean_us"] = sum(detect_ns) / max(len(detect_ns), 1) / 1e3
    out["kernel_s"] = sum(sum(ns) for ns in per.values()) / 1e9
    return out


def one_doc_calls(spark, source: dict, tracer) -> dict:
    """Median ms of one-document ``hybrid_chunks`` and
    ``export_items(fmt="json")`` calls, each collected, over an extracted
    single-row frame (the shape a service request hands them)."""
    from pyspark.sql import functions as F

    from docling_spark.operators.chunker import hybrid_chunks
    from docling_spark.operators.export import export_items
    from docling_spark.operators.extract_ops import extract_turns

    df = spark.createDataFrame(
        pd.DataFrame([{"conv_id": "0", "turn_idx": 0, "role": "user",
                       "text": source["text"], "tool": source["tool"]}]))
    extracted = extract_turns(df).cache()
    extracted.count()
    try:
        items = extracted.select(
            F.col("conv_id").alias("uid"), F.explode("items").alias("it")
        ).select("uid", "it.item_idx", "it.label", "it.level", "it.text",
                 "it.content_layer").cache()
        items.count()
        docs = extracted.select(F.col("conv_id").alias("uid"), "items")

        def chunk():
            hybrid_chunks(items, doc_col="uid", with_provenance=True).collect()

        def export():
            export_items(docs, fmt="json", keep_cols=("uid",)).collect()

        chunk()
        export()  # first calls start the kernels' Python workers
        out = {"hybrid_chunks_ms": 1e3 * timed_median(
                   chunk, tracer, "operators.chunker.hybrid_chunks", 5),
               "items_json_ms": 1e3 * timed_median(
                   export, tracer, "operators.export.export_items", 5)}
        items.unpersist()
        return out
    finally:
        extracted.unpersist()
