"""End-to-end serving-shim tests: upload → pipeline → JSON table +
schema response, schema fetch, CSV download (reference server.js
surface)."""

from __future__ import annotations

import json
import urllib.error
import urllib.request
import uuid
from pathlib import Path

import pytest

from etl_pipeline_project_auraverse_spark.server import EtlServer

FIXTURES = Path(__file__).parent / "fixtures"


def _multipart(filename: str, payload: bytes) -> tuple[bytes, str]:
    boundary = f"----spark{uuid.uuid4().hex}"
    body = (
        f"--{boundary}\r\n"
        f'Content-Disposition: form-data; name="inputFile"; filename="{filename}"\r\n'
        f"Content-Type: application/octet-stream\r\n\r\n"
    ).encode() + payload + f"\r\n--{boundary}--\r\n".encode()
    return body, f"multipart/form-data; boundary={boundary}"


def _post(url: str, body: bytes, ctype: str) -> dict:
    req = urllib.request.Request(url, data=body, headers={"Content-Type": ctype})
    with urllib.request.urlopen(req, timeout=120) as resp:
        return json.loads(resp.read())


@pytest.fixture(scope="module")
def server(spark, tmp_path_factory):
    srv = EtlServer(str(tmp_path_factory.mktemp("serve")), spark=spark)
    srv.start()
    yield srv
    srv.stop()


def test_run_etl_upload_roundtrip(server):
    payload = (FIXTURES / "simple.json").read_bytes()
    body, ctype = _multipart("simple.json", payload)
    out = _post(f"http://127.0.0.1:{server.port}/run-etl", body, ctype)
    assert out["success"] is True, out
    names = {r["name"] for r in out["table"]}
    # T8 lower-cases unmatched strings (reference etl_pipeline.py:207), so the
    # pipeline output — and therefore the served table — holds lower-cased names.
    assert {"ada", "grace"} <= names
    # csvtojson semantics: every value arrives as a string
    assert all(isinstance(v, str) for r in out["table"] for v in r.values())
    # reference artifact layout (etl_pipeline.py:246-276): schema_id + fields[]
    assert out["schema"] and "fields" in json.dumps(out["schema"])
    # below the row cap the payload keeps the reference's exact response
    # shape — no extra 'truncated' key (server.js:52-70 has none)
    assert "truncated" not in out
    assert set(out) == {"success", "table", "schema"}


def test_schema_endpoint(server):
    with urllib.request.urlopen(
        f"http://127.0.0.1:{server.port}/schema/default_source", timeout=30
    ) as resp:
        schema = json.loads(resp.read())
    assert schema.get("schema_id")

    with pytest.raises(urllib.error.HTTPError) as exc:
        urllib.request.urlopen(
            f"http://127.0.0.1:{server.port}/schema/nope", timeout=30
        )
    assert exc.value.code == 404
    assert json.loads(exc.value.read()) == {"error": "Schema not found."}


def test_download_endpoint(server):
    req = urllib.request.Request(f"http://127.0.0.1:{server.port}/download")
    with urllib.request.urlopen(req, timeout=30) as resp:
        disp = resp.headers["Content-Disposition"]
        data = resp.read()
    assert "structured_table.csv" in disp
    assert data.splitlines()[0].count(b",") >= 1  # header row


def test_schema_endpoint_rejects_traversal(server, tmp_path):
    # a schema file OUTSIDE the schemas dir must not be reachable via
    # ../ (or any non-token id); the endpoint answers the same 404 as
    # for a missing schema
    outside = Path(server.workdir) / "leak_schema.json"
    outside.write_text('{"schema_id": "leak"}')
    for payload in ("..%2f..%2fleak", "../leak", "a/b", "x.y"):
        with pytest.raises(urllib.error.HTTPError) as exc:
            urllib.request.urlopen(
                f"http://127.0.0.1:{server.port}/schema/{payload}", timeout=30
            )
        assert exc.value.code == 404


def test_frontend_pages_served(server):
    with urllib.request.urlopen(f"http://127.0.0.1:{server.port}/", timeout=30) as r:
        page = r.read().decode()
        assert "text/html" in r.headers["Content-Type"]
    assert "etlForm" in page and "table.js" in page
    with urllib.request.urlopen(
        f"http://127.0.0.1:{server.port}/table.js", timeout=30
    ) as r:
        js = r.read().decode()
        assert "javascript" in r.headers["Content-Type"]
    assert "run-etl" in js and "renderTable" in js


def test_concurrent_uploads_are_serialized(server):
    """Two simultaneous /run-etl posts with different payloads must each
    get back their own table — shared staging/output paths make this
    impossible without the per-run lock."""
    import threading

    results: dict[str, dict] = {}

    def upload(tag: str) -> None:
        rows = [{"id": i, "name": f"{tag}{i}", "score": i} for i in range(3)]
        body, ctype = _multipart(f"{tag}.json", json.dumps(rows).encode())
        results[tag] = _post(f"http://127.0.0.1:{server.port}/run-etl", body, ctype)

    threads = [threading.Thread(target=upload, args=(t,)) for t in ("alpha", "beta")]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=180)
    for tag in ("alpha", "beta"):
        out = results[tag]
        assert out["success"] is True, out
        names = {r["name"] for r in out["table"]}
        assert names == {f"{tag}0", f"{tag}1", f"{tag}2"}, (tag, names)


def test_table_response_is_capped(tmp_path):
    """An over-cap table returns exactly the cap plus a truncated flag —
    one request can never pull an unbounded result onto the driver."""
    from etl_pipeline_project_auraverse_spark.server import _read_csv_rows

    p = tmp_path / "big.csv"
    p.write_text("id,name\n" + "".join(f"{i},n{i}\n" for i in range(25)))
    rows, truncated = _read_csv_rows(str(p), max_rows=10)
    assert len(rows) == 10 and truncated is True
    rows, truncated = _read_csv_rows(str(p), max_rows=25)
    assert len(rows) == 25 and truncated is False


def test_mixed_text_upload(server):
    payload = (FIXTURES / "mixed.txt").read_bytes()
    body, ctype = _multipart("mixed.txt", payload)
    out = _post(f"http://127.0.0.1:{server.port}/run-etl", body, ctype)
    assert out["success"] is True, out
    assert len(out["table"]) >= 3  # json + csv + yaml/log/code records


def test_long_csv_upload_keeps_the_session(server):
    """A 5,000-row CSV block extracts whole (the block pattern must not
    recurse per line: a stack overflow is fatal to the local JVM), and
    the session still serves the next upload."""
    rids = [f"r{i:05d}" for i in range(5000)]
    rows = "".join(f"{r},n{i % 7},{i % 13}\n" for i, r in enumerate(rids))
    payload = ("rid,name,qty\n" + rows).encode()
    body, ctype = _multipart("long.csv", payload)
    out = _post(f"http://127.0.0.1:{server.port}/run-etl", body, ctype)
    assert out["success"] is True, out
    assert {r["rid"] for r in out["table"]} == set(rids)

    body, ctype = _multipart("simple.json", (FIXTURES / "simple.json").read_bytes())
    assert _post(f"http://127.0.0.1:{server.port}/run-etl", body, ctype)["success"] is True
