"""Stdlib HTTP adapter for the S3 service layer + the bundled frontend.

The reference serves its REST surface with FastAPI (main.py:79-331) and a
static frontend (frontend/index.html, started by frontend/start_frontend.py).
This module serves the same surface with the standard library alone: a
``ThreadingHTTPServer`` routing straight into the framework-free
``DataForgeService`` handlers.

Routes (same contract as reference main.py):

    GET    /                    -> service.root()
    GET    /health              -> service.health()
    GET    /pipeline-info       -> service.pipeline_info()
    GET    /files               -> service.list_files()
    DELETE /files/{name}        -> service.delete_file(name)
    GET    /download/{name}     -> CSV file response
    POST   /upload              -> multipart file -> service.upload()
    POST   /clean-data          -> form(file_path, operations) -> clean
    GET    /ui                  -> bundled single-file frontend (frontend/index.html)

Multipart bodies are parsed with ``email.parser`` (stdlib; ``cgi`` is
deprecated).  Handlers run on the server's worker threads; Spark sessions
are thread-safe for job submission, so concurrent requests simply become
concurrent Spark jobs.

Run: ``python -m dataforge_spark serve [--port 8000] [--upload-dir uploads]``.
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import uuid
from email.parser import BytesParser
from email.policy import default as default_policy
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from typing import Any
from urllib.parse import parse_qs, unquote, urlparse

from pyspark.sql import SparkSession

from .service import DataForgeService, ServiceError

FRONTEND_PATH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "frontend",
    "index.html",
)


def _parse_multipart(content_type: str, body: bytes) -> dict[str, Any]:
    """Parse a multipart/form-data body into {field: str | (filename, bytes)}.

    Wraps the body in a synthetic MIME document so the battle-tested
    ``email`` parser does the boundary/quoting work.
    """
    head = f"Content-Type: {content_type}\r\nMIME-Version: 1.0\r\n\r\n".encode()
    msg = BytesParser(policy=default_policy).parsebytes(head + body)
    fields: dict[str, Any] = {}
    if not msg.is_multipart():
        return fields
    for part in msg.iter_parts():
        name = part.get_param("name", header="content-disposition")
        if not name:
            continue
        filename = part.get_filename()
        payload = part.get_payload(decode=True) or b""
        if filename:
            fields[name] = (filename, payload)
        else:
            fields[name] = payload.decode("utf-8", errors="replace")
    return fields


class _Handler(BaseHTTPRequestHandler):
    # set by serve(): shared service instance for all worker threads
    service: DataForgeService = None  # type: ignore[assignment]
    quiet: bool = True

    # -- plumbing ------------------------------------------------------------
    def log_message(self, fmt: str, *args: Any) -> None:  # noqa: N802
        if not self.quiet:
            super().log_message(fmt, *args)

    def _send_json(self, obj: dict[str, Any], status: int = 200) -> None:
        data = json.dumps(obj).encode()
        self.send_response(status)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(data)))
        self.send_header("Access-Control-Allow-Origin", "*")
        self.end_headers()
        self.wfile.write(data)

    def _send_file(self, path: str, download_name: str) -> None:
        size = os.path.getsize(path)
        self.send_response(200)
        self.send_header("Content-Type", "text/csv")
        self.send_header("Content-Length", str(size))
        self.send_header("Access-Control-Allow-Origin", "*")
        self.send_header(
            "Content-Disposition", f'attachment; filename="{download_name}"'
        )
        self.end_headers()
        with open(path, "rb") as f:
            shutil.copyfileobj(f, self.wfile)

    def _send_html(self, path: str) -> None:
        if not os.path.exists(path):
            self._send_json({"detail": "frontend not bundled"}, 404)
            return
        with open(path, "rb") as f:
            data = f.read()
        self.send_response(200)
        self.send_header("Content-Type", "text/html; charset=utf-8")
        self.send_header("Content-Length", str(len(data)))
        self.end_headers()
        self.wfile.write(data)

    def _guard(self, fn, *args: Any) -> None:
        try:
            self._send_json(fn(*args))
        except ServiceError as e:
            self._send_json({"detail": e.detail}, e.status_code)
        except Exception as e:  # pragma: no cover - defensive 500
            self._send_json({"detail": f"internal error: {e}"}, 500)

    def _body(self) -> bytes:
        length = int(self.headers.get("Content-Length") or 0)
        return self.rfile.read(length) if length else b""

    # -- routing -------------------------------------------------------------
    def do_OPTIONS(self) -> None:  # noqa: N802
        # CORS preflight: the frontend supports a cross-origin API base
        # (?api=...), and browsers preflight DELETE/POST before sending.
        self.send_response(204)
        self.send_header("Access-Control-Allow-Origin", "*")
        self.send_header("Access-Control-Allow-Methods", "GET, POST, DELETE, OPTIONS")
        self.send_header("Access-Control-Allow-Headers", "Content-Type")
        self.send_header("Access-Control-Max-Age", "86400")
        self.end_headers()

    def do_GET(self) -> None:  # noqa: N802
        path = urlparse(self.path).path
        if path == "/":
            self._guard(self.service.root)
        elif path == "/health":
            self._guard(self.service.health)
        elif path == "/pipeline-info":
            self._guard(self.service.pipeline_info)
        elif path == "/files":
            self._guard(self.service.list_files)
        elif path in ("/ui", "/ui/", "/index.html"):
            self._send_html(FRONTEND_PATH)
        elif path.startswith("/download/"):
            name = unquote(path[len("/download/") :])
            try:
                real = self.service.download_path(name)
            except ServiceError as e:
                self._send_json({"detail": e.detail}, e.status_code)
                return
            self._send_file(real, name if name.endswith(".csv") else f"{name}.csv")
        else:
            self._send_json({"detail": "Not Found"}, 404)

    def do_DELETE(self) -> None:  # noqa: N802
        path = urlparse(self.path).path
        if path.startswith("/files/"):
            self._guard(self.service.delete_file, unquote(path[len("/files/") :]))
        else:
            self._send_json({"detail": "Not Found"}, 404)

    def do_POST(self) -> None:  # noqa: N802
        path = urlparse(self.path).path
        ctype = self.headers.get("Content-Type", "")
        body = self._body()
        if ctype.startswith("multipart/form-data"):
            fields = _parse_multipart(ctype, body)
        elif ctype.startswith("application/x-www-form-urlencoded"):
            fields = {k: v[0] for k, v in parse_qs(body.decode()).items()}
        elif ctype.startswith("application/json"):
            try:
                fields = json.loads(body.decode() or "{}")
            except json.JSONDecodeError:
                self._send_json({"detail": "invalid JSON body"}, 400)
                return
        else:
            fields = {}

        if path == "/upload":
            file_field = fields.get("file")
            if not isinstance(file_field, tuple):
                self._send_json({"detail": "multipart field 'file' required"}, 400)
                return
            filename, payload = file_field
            # unique per request: concurrent uploads of the same filename on
            # the threading server must not race on one temp path
            tmp = os.path.join(
                self.service.upload_dir,
                f".tmp_{uuid.uuid4().hex}_{os.path.basename(filename)}",
            )
            os.makedirs(self.service.upload_dir, exist_ok=True)
            with open(tmp, "wb") as f:
                f.write(payload)
            try:
                self._guard(self.service.upload, filename, tmp)
            finally:
                if os.path.exists(tmp):
                    os.remove(tmp)
        elif path == "/clean-data":
            file_path = fields.get("file_path")
            operations = fields.get("operations")
            if not file_path or operations is None:
                self._send_json(
                    {"detail": "fields 'file_path' and 'operations' required"}, 400
                )
                return
            self._guard(self.service.clean_data, file_path, operations)
        else:
            self._send_json({"detail": "Not Found"}, 404)


def serve(
    spark: SparkSession,
    host: str = "127.0.0.1",
    port: int = 8000,
    upload_dir: str = "uploads",
    quiet: bool = True,
) -> ThreadingHTTPServer:
    """Build a ready-to-run server (not yet serving). Callers run
    ``server.serve_forever()`` (blocking) or use :func:`serve_background`.
    ``port=0`` binds an ephemeral port (tests)."""
    handler = type(
        "BoundHandler",
        (_Handler,),
        {"service": DataForgeService(spark, upload_dir), "quiet": quiet},
    )
    return ThreadingHTTPServer((host, port), handler)


def serve_background(
    spark: SparkSession,
    host: str = "127.0.0.1",
    port: int = 0,
    upload_dir: str = "uploads",
) -> tuple[ThreadingHTTPServer, threading.Thread]:
    """Start the server on a daemon thread; returns (server, thread).
    ``server.server_address[1]`` carries the bound port."""
    server = serve(spark, host, port, upload_dir)
    thread = threading.Thread(target=server.serve_forever, daemon=True)
    thread.start()
    return server, thread
