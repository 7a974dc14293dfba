"""``convert-remote`` with inputs that share a basename and services that
misbehave: chunk records stay with their own source, and service errors
end the command with one error line and a non-zero exit."""

from __future__ import annotations

import json
import socket
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import docling_spark.cli as cli


def _chunks(path):
    return [json.loads(ln) for ln in path.read_text().splitlines()]


def test_chunks_of_same_basename_inputs_stay_apart(tmp_path, spark):
    from docling_spark.jobs.service import serve

    for d, body in (("a", "alpha one"), ("b", "beta two")):
        (tmp_path / d).mkdir()
        (tmp_path / d / "doc.html").write_text(
            f"<h1>{d}</h1><p>{body}</p>")
    server, service = serve(spark)
    host, port = server.server_address
    threading.Thread(target=server.serve_forever, daemon=True).start()
    try:
        rc = cli.main([
            "convert-remote", str(tmp_path / "a" / "doc.html"),
            str(tmp_path / "b" / "doc.html"),
            "--url", f"http://{host}:{port}", "--to", "chunks",
            "--output", str(tmp_path / "out"),
        ])
    finally:
        server.shutdown()
        service.shutdown()
    assert rc == 0
    a = _chunks(tmp_path / "out" / "doc.chunks.jsonl")
    b = _chunks(tmp_path / "out" / "doc_2.chunks.jsonl")
    assert [r["raw_text"] for r in a] == ["alpha one"]
    assert [r["raw_text"] for r in b] == ["beta two"]
    assert [r["headings"] for r in a + b] == [["a"], ["b"]]
    assert {r["filename"] for r in a + b} == {"doc.html"}


def test_refused_connection_is_one_error_line(tmp_path, capsys):
    src = tmp_path / "doc.html"
    src.write_text("<p>x</p>")
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        port = s.getsockname()[1]
    rc = cli.main(["convert-remote", str(src),
                   "--url", f"http://127.0.0.1:{port}",
                   "--output", str(tmp_path / "out")])
    assert rc == 1
    err = capsys.readouterr().err.strip().splitlines()
    assert len(err) == 1 and err[0].startswith("task failed: URLError")


class _NeverDone(BaseHTTPRequestHandler):
    """Accepts every task and reports it pending forever."""

    def _json(self, body: dict) -> None:
        data = json.dumps(body).encode()
        self.send_response(200)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(data)))
        self.end_headers()
        self.wfile.write(data)

    def do_POST(self):
        self.rfile.read(int(self.headers["Content-Length"]))
        self._json({"task_id": "t1"})

    def do_GET(self):
        self._json({"task_id": "t1", "task_status": "pending"})

    def log_message(self, *args):
        pass


def test_unfinished_task_hits_the_deadline(tmp_path, capsys, monkeypatch):
    monkeypatch.setattr(cli, "REMOTE_TASK_TIMEOUT_S", 0.5)
    src = tmp_path / "doc.html"
    src.write_text("<p>x</p>")
    server = ThreadingHTTPServer(("127.0.0.1", 0), _NeverDone)
    host, port = server.server_address
    threading.Thread(target=server.serve_forever, daemon=True).start()
    try:
        rc = cli.main(["convert-remote", str(src),
                       "--url", f"http://{host}:{port}",
                       "--poll-interval", "0.05",
                       "--output", str(tmp_path / "out")])
    finally:
        server.shutdown()
    assert rc == 1
    err = capsys.readouterr().err.strip().splitlines()
    assert len(err) == 1 and "not finished after 0.5 s" in err[0]
