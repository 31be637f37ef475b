"""End-to-end tests for the stdlib HTTP adapter + bundled frontend.

Drives a live ThreadingHTTPServer (ephemeral port) with http.client:
upload (multipart) -> profile -> clean-data -> download -> delete, plus
the error contract (400/404) and the /ui frontend's manifest coupling.
Reference surface: /root/reference/main.py:79-331 + frontend/.
"""

from __future__ import annotations

import json
import os
import uuid
from http.client import HTTPConnection

import pytest

from dataforge_spark.http_server import FRONTEND_PATH, serve_background


@pytest.fixture()
def server(spark, tmp_path):
    srv, thread = serve_background(
        spark, upload_dir=str(tmp_path / "uploads")
    )
    yield srv
    srv.shutdown()
    srv.server_close()


def _conn(server) -> HTTPConnection:
    host, port = server.server_address[:2]
    return HTTPConnection(host, port, timeout=120)


def _get(server, path):
    c = _conn(server)
    c.request("GET", path)
    r = c.getresponse()
    body = r.read()
    c.close()
    return r, body


def _multipart(fields: dict) -> tuple[str, bytes]:
    """fields: name -> str | (filename, bytes)"""
    boundary = f"----dfspark{uuid.uuid4().hex}"
    out = bytearray()
    for name, val in fields.items():
        out += f"--{boundary}\r\n".encode()
        if isinstance(val, tuple):
            filename, payload = val
            out += (
                f'Content-Disposition: form-data; name="{name}"; '
                f'filename="{filename}"\r\n'
                "Content-Type: application/octet-stream\r\n\r\n"
            ).encode()
            out += payload + b"\r\n"
        else:
            out += f'Content-Disposition: form-data; name="{name}"\r\n\r\n'.encode()
            out += str(val).encode() + b"\r\n"
    out += f"--{boundary}--\r\n".encode()
    return f"multipart/form-data; boundary={boundary}", bytes(out)


def _post(server, path, fields):
    ctype, body = _multipart(fields)
    c = _conn(server)
    c.request("POST", path, body=body, headers={"Content-Type": ctype})
    r = c.getresponse()
    data = r.read()
    c.close()
    return r, data


CSV = b"name,qty,price\nalice,1,10.5\nbob,,20.0\nbob,,20.0\ncarol,3,\n"


def test_health_root_and_manifest(server):
    r, body = _get(server, "/health")
    assert r.status == 200
    assert json.loads(body)["status"] == "healthy"

    r, body = _get(server, "/")
    assert json.loads(body)["status"] == "running"

    r, body = _get(server, "/pipeline-info")
    ops = json.loads(body)["operations"]
    assert "missing_values" in ops and "normalization" in ops


def test_upload_clean_download_delete_roundtrip(server):
    # upload: profile comes back
    r, body = _post(server, "/upload", {"file": ("mini.csv", CSV)})
    assert r.status == 200, body
    up = json.loads(body)
    assert up["dataset_info"]["shape"] == {"rows": 4, "columns": 3}
    assert up["dataset_info"]["duplicate_rows"] == 1

    # clean: dedupe + fill
    ops = {
        "missing_values": {"enabled": True, "strategy": "fill_mean"},
        "duplicates": {"enabled": True},
    }
    r, body = _post(
        server,
        "/clean-data",
        {"file_path": up["file_path"], "operations": json.dumps(ops)},
    )
    assert r.status == 200, body
    cleaned = json.loads(body)
    assert cleaned["status"] == "success"
    assert cleaned["result"]["operations"]["missing_values"]["status"] == "success"

    # download: CSV body, dup row gone, missing qty filled with mean(1,3)=2
    r, body = _get(server, cleaned["download_url"])
    assert r.status == 200
    assert r.getheader("Content-Type") == "text/csv"
    lines = body.decode().strip().splitlines()
    assert lines[0] == "name,qty,price"
    assert len(lines) == 1 + 3  # header + deduped rows
    # qty is an int column holding nulls: like pandas (where such a
    # column is float64), the mean-fill promotes it to double — the
    # reference would emit 2.0/3.0 here too
    assert any(ln.startswith("bob,2.0") and ln.endswith("20.0") for ln in lines[1:]), lines
    assert any(ln.startswith("carol,3.0,16.8333") for ln in lines[1:]), lines

    # files list shows both, flagged
    r, body = _get(server, "/files")
    files = {f["filename"]: f for f in json.loads(body)["files"]}
    assert "mini.csv" in files and "mini_cleaned.csv" in files
    assert files["mini_cleaned.csv"]["is_cleaned"]

    # delete then 404 on download
    c = _conn(server)
    c.request("DELETE", "/files/mini.csv")
    assert c.getresponse().status == 200
    c.close()
    r, _ = _get(server, "/download/mini.csv")
    assert r.status == 404


def test_error_contract(server):
    # non-CSV upload -> 400 (reference main.py:94-95)
    r, body = _post(server, "/upload", {"file": ("data.txt", b"x")})
    assert r.status == 400

    # invalid operations JSON -> 400
    r, body = _post(
        server, "/clean-data", {"file_path": "/nope.csv", "operations": "not json"}
    )
    assert r.status == 400

    # unknown strategy -> 400 with validation detail
    r, body = _post(
        server,
        "/clean-data",
        {
            "file_path": "/nope.csv",
            "operations": json.dumps({"missing_values": {"strategy": "bogus"}}),
        },
    )
    assert r.status == 400
    assert "Invalid operations" in json.loads(body)["detail"]

    # missing file -> 404; unknown route -> 404
    r, _ = _get(server, "/download/ghost.csv")
    assert r.status == 404
    r, _ = _get(server, "/definitely-not-a-route")
    assert r.status == 404


def test_frontend_served_and_manifest_driven(server):
    r, body = _get(server, "/ui")
    assert r.status == 200
    assert "text/html" in r.getheader("Content-Type")
    html = body.decode()
    # the form is built from /pipeline-info at load time — the coupling the
    # reference's hardcoded form lacks; assert the fetch and flow endpoints
    for endpoint in ("/pipeline-info", "/health", "/upload", "/clean-data", "/files"):
        assert endpoint in html, f"frontend no longer references {endpoint}"
    assert os.path.exists(FRONTEND_PATH)


def test_missing_value_chart_report_and_svg_nodes(server):
    """Round-4 UI parity (reference script.js:506-540): the clean report
    carries missing_before/missing_after per column, and the served UI
    renders them as a dependency-free inline SVG bar chart."""
    r, body = _post(server, "/upload", {"file": ("chart.csv", CSV)})
    up = json.loads(body)
    ops = {"missing_values": {"enabled": True, "strategy": "fill_mean"}}
    r, body = _post(
        server, "/clean-data",
        {"file_path": up["file_path"], "operations": json.dumps(ops)},
    )
    assert r.status == 200, body
    mv = json.loads(body)["result"]["operations"]["missing_values"]
    assert mv["missing_before"]["qty"] > 0
    assert mv["missing_after"]["qty"] == 0
    # name column has no gap either side — present in both dicts
    assert mv["missing_before"]["name"] == mv["missing_after"]["name"] == 0

    r, body = _get(server, "/ui")
    html = body.decode()
    for node in ("renderMissingChart", "missing_before", "missing_after",
                 "createElementNS", "chart-before", "chart-after",
                 'id="chart-svg"', "renderPreview", "sample_data",
                 'id="preview-rows"'):
        assert node in html, f"frontend chart/preview machinery missing: {node}"


def test_client_side_pre_upload_preview_wired(server):
    """Round-5 UI parity (reference frontend/index.html:8 bundles
    PapaParse for a pre-upload preview): the served UI must carry the
    zero-dependency client-side preview — File.slice + quote-aware CSV
    chunk parser — and call it from BOTH file pickers (change + drop)
    before the upload round-trips."""
    r, body = _get(server, "/ui")
    html = body.decode()
    for node in ("localCsvPreview", "parseCsvChunk", ".slice(0, 16384)",
                 'id="preview-note"', "renderPreviewTable"):
        assert node in html, f"pre-upload preview machinery missing: {node}"
    assert html.count("localCsvPreview(f)") == 2  # change + drop handlers


def test_sequential_requests_leave_no_cached_frames(spark, server):
    """Many /clean-data requests in one long-lived session: every request
    releases what its pipeline cached, and every output still downloads
    whole (the write reads the cache before it is released)."""
    persistent = spark.sparkContext._jsc.sc().getPersistentRDDs
    start = persistent().size()
    ops = {
        "missing_values": {"enabled": True, "strategy": "fill_mean"},
        "duplicates": {"enabled": True},
        "normalization": {"enabled": True, "method": "minmax", "columns": ["price"]},
    }
    outputs = []
    for i in range(4):
        r, body = _post(server, "/upload", {"file": (f"seq{i}.csv", CSV)})
        assert r.status == 200, body
        r, body = _post(server, "/clean-data", {
            "file_path": json.loads(body)["file_path"], "operations": json.dumps(ops)})
        assert r.status == 200, body
        cleaned = json.loads(body)
        assert all(op["status"] == "success"
                   for op in cleaned["result"]["operations"].values()), cleaned
        r, data = _get(server, cleaned["download_url"])
        assert r.status == 200
        outputs.append(data)
    assert persistent().size() == start
    lines = outputs[0].decode().strip().splitlines()
    assert lines[0] == "name,qty,price" and len(lines) == 1 + 3
    assert all(o == outputs[0] for o in outputs)
