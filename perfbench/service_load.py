"""Client for the in-process ``jobs.service`` HTTP API.

A request is sent as a client would: submit, poll at a fixed interval
until the task is terminal, fetch. Request ``i`` is a hybrid chunk
request when ``i % 4 == 3`` and a convert request (``to_formats`` md+json)
otherwise. It carries one source, ``sources[i % len(sources)]``, with its
tool hint, and its result is checked against the client-side reference.
"""

from __future__ import annotations

import json
import time
import urllib.error
import urllib.request
from dataclasses import dataclass

from perfbench.spans import Tracer

POLL_INTERVAL_S = 0.02
REQUEST_DEADLINE_S = 120.0


@dataclass
class Request:
    idx: int
    kind: str  # "convert" | "chunk"
    start: float
    submit_s: float = 0.0
    terminal_s: float = 0.0  # submit start → terminal status seen
    latency_s: float = 0.0  # submit start → result fetched
    polls: int = 0
    processing_s: float = 0.0  # the result's own processing_time
    ok: bool = False
    error: str = ""


def _post(url: str, body: dict) -> dict:
    req = urllib.request.Request(
        url, data=json.dumps(body).encode(),
        headers={"Content-Type": "application/json"})
    with urllib.request.urlopen(req, timeout=REQUEST_DEADLINE_S) as r:
        return json.loads(r.read())


def _get(url: str) -> dict:
    with urllib.request.urlopen(url, timeout=REQUEST_DEADLINE_S) as r:
        return json.loads(r.read())


def expected_outputs(sources: list[dict]) -> list[dict]:
    """Client-side reference for each source: the engine's own
    ``extract_payload`` text, and whether the document has a body item
    the hybrid chunker makes a chunk of (its input contract: a text, list
    item, code or caption item in the body layer with non-blank text;
    headings only give context, and tables are not chunked)."""
    from docling_spark.engine.extract import extract_payload

    chunked = {"text", "list_item", "code", "caption"}
    out = []
    for s in sources:
        res = extract_payload(s["text"], s["tool"])
        out.append({
            "md": res["extracted_text"],
            "has_body": any(
                it["label"] in chunked and it["content_layer"] == "body"
                and (it["text"] or "").strip()
                for it in res["items"]),
        })
    return out


class ServiceLoad:
    """Sends requests to one service at ``base_url``."""

    def __init__(self, base_url: str, sources: list[dict],
                 expected: list[dict], tracer: Tracer):
        self.base = base_url
        self.sources = sources
        self.expected = expected
        self.tracer = tracer

    def one(self, i: int) -> Request:
        src = self.sources[i % len(self.sources)]
        kind = "chunk" if i % 4 == 3 else "convert"
        r = Request(i, kind, time.perf_counter())
        doc = {"name": f"doc{i}.{src['tool']}", "payload": src["text"],
               "tool": src["tool"]}
        rid = f"req{i}"
        try:
            with self.tracer.span(f"jobs.service.{kind}", rid):
                with self.tracer.span("jobs.service.submit", rid):
                    if kind == "chunk":
                        tid = _post(f"{self.base}/v1/chunk/hybrid/source/async",
                                    {"sources": [doc]})["task_id"]
                    else:
                        tid = _post(f"{self.base}/v1/convert/source/async",
                                    {"sources": [doc], "options":
                                     {"to_formats": ["md", "json"]}})["task_id"]
                r.submit_s = time.perf_counter() - r.start
                with self.tracer.span("jobs.service.wait", rid):
                    while True:
                        r.polls += 1
                        st = _get(f"{self.base}/v1/status/poll/{tid}")
                        if st["task_status"] in ("success", "failure"):
                            break
                        if time.perf_counter() - r.start > REQUEST_DEADLINE_S:
                            raise TimeoutError("task never finished")
                        time.sleep(POLL_INTERVAL_S)
                r.terminal_s = time.perf_counter() - r.start
                with self.tracer.span("jobs.service.fetch", rid):
                    res = _get(f"{self.base}/v1/result/{tid}")
            r.latency_s = time.perf_counter() - r.start
            if st["task_status"] != "success":
                r.error = f"task failure: {res.get('error')}"
            else:
                r.processing_s = float(res["processing_time"])
                r.error = self._check(i, kind, res)
        except (OSError, urllib.error.URLError, KeyError, ValueError,
                TimeoutError) as exc:
            r.latency_s = time.perf_counter() - r.start
            r.error = f"{type(exc).__name__}: {exc}"
        r.ok = not r.error
        return r

    def _check(self, i: int, kind: str, res: dict) -> str:
        exp = self.expected[i % len(self.expected)]
        if kind == "convert":
            md = res["document"].get("md_content")
            if md != exp["md"]:
                return "md_content differs from extract_payload"
            if "json_content" not in res["document"]:
                return "json_content missing"
            return ""
        if exp["has_body"] and not res["chunks"]:
            return "no chunk for a document with body text"
        return ""
