"""File-oriented CLI — the Spark twin of the reference's ``docling``
command (docling/cli/main.py:705-1224 ``convert``): convert local
document files and write one output file per (input, format).

    python -m docling_spark.cli convert SOURCES... \
        [--from FMT[,FMT...]] [--to md,text,json,yaml,doctags,itxt,html,\
html_split_page,doclang,dclx] [--output DIR] [--password PW]... \
        [--parallelism N] [--abort-on-error] [-v]

Spark-first even at file granularity: sources load as a ``binaryFile``
DataFrame (bytes stay executor-side; the driver never materializes
payloads), the text/base64 payload encoding happens inside the same
Arrow batch that feeds the extraction kernel the 10^12-turn table job
uses (operators/extract_ops.py), and serialization reuses the export
sinks (operators/export.py) — the CLI is a thin shell over the cluster
path, never a second engine. Output filenames mirror the reference's
export_documents (cli/export_utils.py): ``<stem>.<ext>`` in the output
directory, with colliding stems disambiguated by a numeric suffix.
"""

from __future__ import annotations

import argparse
import base64
import json
import pathlib
import sys
import urllib.parse

# md/text render from the document's extracted markdown; the rest are
# item-table serializers (the same sink registry the table job's --to
# flag uses); "chunks" is the chunked-JSONL sink (the reference CLI's
# --to chunks via HybridChunker, cli/main.py:447-450,596-640)
_ITEM_FORMATS = ("json", "yaml", "doctags", "itxt", "html",
                 "html_split_page", "doclang", "dclx")
_ALL_FORMATS = ("md", "text") + _ITEM_FORMATS + ("chunks",)
# html and html_split_page must not share one extension — the second
# write would silently clobber the first
_EXTENSIONS = {"md": "md", "text": "txt", "json": "json", "yaml": "yaml",
               "doctags": "doctags.txt", "itxt": "itxt", "html": "html",
               "html_split_page": "split.html", "doclang": "doclang",
               "dclx": "dclx", "vtt": "vtt",
               "chunks": "chunks.jsonl"}
# formats whose string transport is base64 of real bytes — decoded at
# the file boundary so the on-disk artifact is the actual archive
_B64_FORMATS = frozenset({"dclx"})


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    from docling_spark.engine.extract import _HINT_ALIASES, KNOWN_FORMATS

    p = argparse.ArgumentParser(
        prog="docling-spark",
        description="Convert documents through the Spark-native engine")
    sub = p.add_subparsers(dest="command", required=True)

    def _common(c):
        c.add_argument("sources", nargs="+",
                       help="input files or directories (recursed)")
        c.add_argument("--from", dest="from_formats", default=None,
                       help="comma-separated allowed input formats; "
                            "detected formats outside the set become "
                            "SKIPPED results (the reference CLI's --from)")
        c.add_argument("--to", dest="to_formats", default="md",
                       help=f"comma-separated output formats "
                            f"({','.join(_ALL_FORMATS)}); default md")
        c.add_argument("--output", default=".",
                       help="output directory (created if missing)")
        c.add_argument("--password", action="append", default=[],
                       help="password to try for encrypted PDFs "
                            "(repeatable)")
        c.add_argument("-v", "--verbose", action="store_true")
        # --to chunks options (the reference's chunker_type /
        # chunk_max_tokens / chunk_tokenizer, cli/main.py:448-450);
        # shared — convert-remote routes them to the service's chunk
        # task endpoint
        c.add_argument("--chunker", default="hybrid",
                       choices=("hybrid", "hierarchical"),
                       help="chunker kind for --to chunks: hybrid "
                            "(token-budget split/merge) or hierarchical "
                            "(one chunk per item with heading context)")
        c.add_argument("--chunk-max-tokens", type=int, default=128,
                       help="HybridChunker token budget for --to chunks")
        c.add_argument("--chunk-tokenizer", default=None,
                       help="path to a HuggingFace tokenizer.json; "
                            "counts then come from the from-scratch "
                            "BPE/WordPiece encoder (functions/bpe.py) "
                            "for reference chunk-boundary parity "
                            "(default: whitespace)")

    c = sub.add_parser("convert", help="convert files to structured text")
    _common(c)
    c.add_argument("--parallelism", type=int, default=None,
                   help="Spark local[] core count (default: all cores)")
    c.add_argument("--abort-on-error", action="store_true",
                   help="exit non-zero if any document fails")

    # the reference's `docling convert-remote` twin
    # (docling/cli/remote.py:132): same sources/sinks, but the work runs
    # on a docling-spark job service over its task API
    r = sub.add_parser("convert-remote",
                       help="convert via a running docling-spark job "
                            "service (jobs/service.py task API)")
    _common(r)
    r.add_argument("--url", required=True,
                   help="service base URL, e.g. http://127.0.0.1:5001")
    r.add_argument("--poll-interval", type=float, default=0.5,
                   help="seconds between status polls (sent as ?wait=)")

    args = p.parse_args(argv)
    bad = [f for f in args.to_formats.split(",") if f not in _ALL_FORMATS]
    if bad:
        p.error(f"unknown output format(s): {','.join(bad)}")
    if args.from_formats:
        # a typo'd allow-list would silently SKIP every input and exit 0
        # — validate it the way --to is validated
        known = set(KNOWN_FORMATS) | set(_HINT_ALIASES)
        bad = [f for f in args.from_formats.split(",") if f not in known]
        if bad:
            p.error(f"unknown input format(s): {','.join(bad)}")
    return args


def _collect_files(sources: list[str]) -> list[pathlib.Path]:
    out: list[pathlib.Path] = []
    seen: set[str] = set()
    for s in sources:
        path = pathlib.Path(s)
        if path.is_dir():
            found = sorted(f for f in path.rglob("*") if f.is_file())
        elif path.is_file():
            found = [path]
        else:
            raise FileNotFoundError(s)
        for f in found:
            # dedupe resolved paths: the same file listed twice must
            # convert (and count) once, not fan out into a dup join
            key = str(f.resolve())
            if key not in seen:
                seen.add(key)
                out.append(f)
    return out


def _payload_of(data: bytes) -> str:
    """Files enter the engine exactly like table payloads: text stays
    text, binary travels base64 (the format sniffers accept both
    spellings for every binary family)."""
    try:
        return data.decode("utf-8")
    except UnicodeDecodeError:
        return base64.b64encode(data).decode("ascii")


def _sources_df(spark, files: list[pathlib.Path]):
    """binaryFile scan → the table-job row shape. Payload encoding runs
    INSIDE the Arrow batch on executors — the driver holds paths only."""
    import pandas as pd

    raw = (
        spark.read.format("binaryFile")
        .load([str(f) for f in files])
        .select("path", "content")
    )

    def encode(batches):
        for pdf in batches:
            paths = []
            texts = []
            tools = []
            for path, content in zip(pdf["path"], pdf["content"]):
                # binaryFile reports file: URIs — sometimes single-slash
                # 'file:/…' with percent-escapes; parse, don't slice
                if path.startswith("file:"):
                    parts = urllib.parse.urlsplit(path)
                    p = urllib.parse.unquote(parts.path)
                else:
                    p = path
                paths.append(p)
                texts.append(_payload_of(bytes(content)))
                tools.append(pathlib.PurePath(p).suffix.lstrip(".").lower())
            yield pd.DataFrame({
                "conv_id": paths,
                "turn_idx": [0] * len(paths),
                "role": ["user"] * len(paths),
                "text": texts,
                "tool": tools,
            })

    return raw.mapInPandas(
        encode,
        schema="conv_id string, turn_idx int, role string, "
               "text string, tool string")


def _out_path(out_dir: pathlib.Path, stem: str, ext: str,
              taken: set[str]) -> pathlib.Path:
    """Collision-safe target: report.pdf from two directories must not
    clobber each other's report.md."""
    name = f"{stem}.{ext}"
    k = 1
    while name in taken:
        k += 1
        name = f"{stem}_{k}.{ext}"
    taken.add(name)
    return out_dir / name


def run_convert(args: argparse.Namespace) -> int:
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from docling_spark.operators.export import export_items
    from docling_spark.operators.extract_ops import extract_turns

    files = _collect_files(args.sources)
    if not files:
        print("no input files", file=sys.stderr)
        return 2
    out_dir = pathlib.Path(args.output)
    out_dir.mkdir(parents=True, exist_ok=True)
    to_formats = args.to_formats.split(",")
    allowed = (frozenset(args.from_formats.split(","))
               if args.from_formats else None)

    cores = args.parallelism or "*"
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("docling-spark-cli")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    try:
        df = _sources_df(spark, files)
        # one file per task: the kernel cost is per-document CPU, and a
        # CLI batch is small — the same pinned fan-out rationale as the
        # table job's range spread
        df = df.repartition(min(len(files),
                                spark.sparkContext.defaultParallelism))
        extracted = extract_turns(
            df, pdf_passwords=tuple(args.password),
            allowed_formats=allowed).cache()

        item_cols = [f for f in to_formats if f in _ITEM_FORMATS]
        plan = extracted.select(
            F.col("conv_id").alias("path"), "status", "format",
            "extracted_text", "errors")
        for fmt in item_cols:
            ser = export_items(
                extracted.select(F.col("conv_id").alias("path"), "items"),
                fmt=fmt, keep_cols=("path",))
            # "path" is unique by construction (_collect_files dedupes
            # resolved paths), so this join is 1:1
            plan = plan.join(ser, "path", "left")

        # chunked-JSONL sink (the reference CLI's --to chunks,
        # cli/main.py:596-640): run HybridChunker semantics over the
        # exploded items and collect per-document chunk records. CLI
        # batches are file-sized; the records stream per path.
        chunks_by_path: dict[str, list[dict]] = {}
        if "chunks" in to_formats:
            from docling_spark.operators.chunker import hybrid_chunks

            items_df = (
                extracted.select(F.col("conv_id").alias("path"),
                                 F.explode("items").alias("it"))
                .select("path",
                        F.col("it.item_idx").alias("item_idx"),
                        F.col("it.label").alias("label"),
                        F.col("it.level").alias("level"),
                        F.col("it.text").alias("text"),
                        F.col("it.content_layer").alias("content_layer"))
            )
            if args.chunker == "hierarchical":
                # one chunk per item, heading context only — the
                # reference's HierarchicalChunker (cli/main.py:471-472)
                ch = hybrid_chunks(items_df, max_tokens=1 << 30,
                                   merge_peers=False, doc_col="path",
                                   with_provenance=True)
            else:
                ch = hybrid_chunks(
                    items_df, max_tokens=args.chunk_max_tokens,
                    doc_col="path", tokenizer_json=args.chunk_tokenizer,
                    with_provenance=True)
            for row in ch.toLocalIterator():
                # the reference's ChunkedDocumentResultItem fields
                # (datamodel/service/responses.py:146-163): text =
                # contextualized, raw_text = bare chunk, doc_items =
                # item self-refs (our flat-table spelling #/items/N)
                chunks_by_path.setdefault(row["path"], []).append({
                    "filename": pathlib.Path(row["path"]).stem,
                    "chunk_index": row["chunk_idx"],
                    "text": row["contextualized"],
                    "raw_text": row["chunk_text"],
                    "num_tokens": row["n_tokens"],
                    "headings": list(row["headings"] or []),
                    "captions": [],
                    "doc_items": [f"#/items/{i}"
                                  for i in (row["doc_items"] or [])],
                    "page_numbers": [],
                    "metadata": {},
                })

        n_ok = n_fail = n_skip = 0
        taken: set[str] = set()
        for row in plan.toLocalIterator():
            stem = pathlib.Path(row["path"]).stem
            if row["status"] == "success":
                n_ok += 1
            elif row["status"] == "skipped":
                n_skip += 1
            else:
                n_fail += 1
            if args.verbose or row["status"] != "success":
                errs = "; ".join(e["message"] for e in (row["errors"] or []))
                print(f"{row['status']:8s} {row['path']}"
                      + (f"  [{errs}]" if errs else ""))
            if row["status"] != "success":
                continue
            for fmt in to_formats:
                if fmt == "chunks":
                    recs = sorted(chunks_by_path.get(row["path"], []),
                                  key=lambda r: r["chunk_index"])
                    target = _out_path(out_dir, stem,
                                       _EXTENSIONS[fmt], taken)
                    # one JSON record per line, file written even when
                    # a document yields no chunks (reference behavior)
                    target.write_text(
                        "".join(json.dumps(r, ensure_ascii=False) + "\n"
                                for r in recs), encoding="utf-8")
                    continue
                content = (row["extracted_text"]
                           if fmt in ("md", "text") else row[fmt])
                if content is None:
                    continue
                target = _out_path(out_dir, stem, _EXTENSIONS[fmt], taken)
                if fmt in _B64_FORMATS:
                    # string transport is base64 of a real archive —
                    # the on-disk artifact must be the bytes
                    target.write_bytes(base64.b64decode(content))
                else:
                    target.write_text(content, encoding="utf-8")
        extracted.unpersist()
        print(f"converted {n_ok} ok, {n_skip} skipped, {n_fail} failed "
              f"-> {out_dir}")
        if args.abort_on_error and n_fail:
            return 1
        return 0
    finally:
        spark.stop()


def _write_doc_outputs(doc: dict, status: str, out_dir: pathlib.Path,
                       to_formats: list[str], taken: set[str],
                       verbose: bool) -> str:
    """Materialize one result document's content fields as files —
    the shared sink for both the local and remote convert paths."""
    stem = pathlib.Path(doc.get("filename") or "document").stem
    errs = "; ".join(e.get("error_message") or e.get("message") or ""
                     for e in (doc.get("errors") or []))
    if verbose or status != "success":
        print(f"{status:8s} {doc.get('filename')}"
              + (f"  [{errs}]" if errs else ""))
    if status != "success":
        return status
    for fmt in to_formats:
        content = doc.get(f"{fmt}_content")
        if content is None:
            continue
        target = _out_path(out_dir, stem, _EXTENSIONS[fmt], taken)
        if fmt in _B64_FORMATS:
            target.write_bytes(base64.b64decode(content))
        elif fmt == "json" and not isinstance(content, str):
            # remote json_content travels as a DoclingDocument OBJECT
            # (ExportDocumentResponse, responses.py:67)
            target.write_text(json.dumps(content, ensure_ascii=False,
                                         indent=2), encoding="utf-8")
        else:
            target.write_text(content, encoding="utf-8")
    return status


# how long convert-remote waits for one service task before giving up
REMOTE_TASK_TIMEOUT_S = 600.0


def _remote_task(base: str, path: str, body: dict, wait: float,
                 verbose: bool) -> "tuple[str, dict]":
    """Submit → ?wait= poll → fetch against a docling-spark service:
    (terminal task_status, result body). HTTP errors, refused or dropped
    connections, and a task still running after
    ``REMOTE_TASK_TIMEOUT_S`` come back as a ``failure`` status with the
    error; every request, a held poll included, ends by the deadline."""
    import time
    import urllib.request

    deadline = time.monotonic() + REMOTE_TASK_TIMEOUT_S

    def call(url: str, data: bytes | None = None) -> dict:
        req = urllib.request.Request(
            url, data=data, headers={"Content-Type": "application/json"})
        left = max(deadline - time.monotonic(), 0.0) + wait
        with urllib.request.urlopen(req, timeout=left) as resp:
            return json.loads(resp.read())

    try:
        task_id = call(f"{base}{path}", json.dumps(body).encode())["task_id"]
        if verbose:
            print(f"task {task_id} submitted to {path}")
        poll = f"{base}/v1/status/poll/{task_id}?wait={wait}"
        while (st := call(poll))["task_status"] not in ("success",
                                                        "failure"):
            if time.monotonic() >= deadline:
                raise TimeoutError(f"task {task_id} not finished after "
                                   f"{REMOTE_TASK_TIMEOUT_S:g} s")
            time.sleep(wait)
        return st["task_status"], call(f"{base}/v1/result/{task_id}")
    except OSError as exc:  # URLError, HTTPError, socket timeouts
        return "failure", {"error": f"{type(exc).__name__}: {exc}"}


def run_convert_remote(args: argparse.Namespace) -> int:
    """The reference's ``convert-remote`` loop (service_client/client.py:
    submit → poll → fetch) as a thin stdlib client over our own service:
    POST /v1/convert/source/async (content formats) and/or
    POST /v1/chunk/<kind>/source/async (``--to chunks``), then the same
    file sinks as local convert."""
    files = _collect_files(args.sources)
    if not files:
        print("no input files", file=sys.stderr)
        return 2
    out_dir = pathlib.Path(args.output)
    out_dir.mkdir(parents=True, exist_ok=True)
    to_formats = args.to_formats.split(",")
    content_formats = [f for f in to_formats if f != "chunks"]
    base = args.url.rstrip("/")

    sources = []
    for f in files:
        data = f.read_bytes()
        payload = _payload_of(data)
        sources.append({"name": f.name, "payload": payload,
                        # binary payloads already travel base64; the
                        # b64 flag is for raw-bytes senders only
                        "b64": False,
                        "tool": f.suffix.lstrip(".").lower()})
    options: dict = {}
    if args.from_formats:
        options["from_formats"] = args.from_formats.split(",")
    if args.password:
        options["pdf_passwords"] = args.password

    taken: set[str] = set()
    n_ok = n_fail = n_skip = 0
    if content_formats:
        status, res = _remote_task(
            base, "/v1/convert/source/async",
            {"sources": sources,
             "options": {**options, "to_formats": content_formats}},
            args.poll_interval, args.verbose)
        if status == "failure":
            print(f"task failed: {res.get('error')}", file=sys.stderr)
            return 1
        if "document" in res:  # single-source ConvertDocumentResponse
            docs = [(res["document"]
                     | {"errors": res.get("errors") or []},
                     res["status"])]
        else:
            docs = [(d, d.get("status"))
                    for d in res.get("documents") or []]
        for doc, st in docs:
            s = _write_doc_outputs(doc, st, out_dir, content_formats,
                                   taken, args.verbose)
            if s == "success":
                n_ok += 1
            elif s == "skipped":
                n_skip += 1
            else:
                n_fail += 1

    if "chunks" in to_formats:
        # route to the service's chunk task endpoint; a file-path
        # tokenizer embeds inline (the service takes tokenizer_json
        # as a dict)
        copts: dict = {"max_tokens": args.chunk_max_tokens}
        if args.chunk_tokenizer:
            with open(args.chunk_tokenizer, encoding="utf-8") as fh:
                copts["tokenizer_json"] = json.load(fh)
        # each source travels under its index as name, so two inputs
        # sharing a basename keep their own chunks; records get the
        # real name back before they are written
        status, res = _remote_task(
            base, f"/v1/chunk/{args.chunker}/source/async",
            {"sources": [{**s, "name": str(i)}
                         for i, s in enumerate(sources)],
             "convert_options": options, "chunking_options": copts},
            args.poll_interval, args.verbose)
        if status == "failure":
            print(f"chunk task failed: {res.get('error')}",
                  file=sys.stderr)
            return 1
        by_src: dict[int, list[dict]] = {}
        for rec in res.get("chunks") or []:
            i = int(rec["filename"])
            by_src.setdefault(i, []).append(
                {**rec, "filename": files[i].name})
        for i, f in enumerate(files):
            recs = sorted(by_src.get(i, []),
                          key=lambda r: r["chunk_index"])
            target = _out_path(out_dir, f.stem, _EXTENSIONS["chunks"],
                               taken)
            target.write_text(
                "".join(json.dumps(r, ensure_ascii=False) + "\n"
                        for r in recs), encoding="utf-8")

    print(f"converted {n_ok} ok, {n_skip} skipped, {n_fail} failed "
          f"-> {out_dir}")
    return 0 if n_fail == 0 else 1


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    if args.command == "convert":
        return run_convert(args)
    if args.command == "convert-remote":
        return run_convert_remote(args)
    return 2  # pragma: no cover


if __name__ == "__main__":
    raise SystemExit(main())
