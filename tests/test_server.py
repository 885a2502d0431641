"""HTTP job endpoint: POST /mapreduce runs a pipe job end-to-end."""

from __future__ import annotations

import collections
import os
import re

import pytest

from cloud_native_mapreduce_spark import mapreduce as MR
from cloud_native_mapreduce_spark.server import JobServer, submit_http

TOKEN = re.compile(r"[a-z](?:[a-z'‘’]*[a-z])?")
LINES = ["to be or not to be", "that is the question", "to be continued"]


@pytest.fixture(scope="module")
def server(spark):
    s = JobServer(spark).start()
    yield s
    s.stop()


def test_http_job_roundtrip(server, tmp_path):
    d = tmp_path / "corpus"
    d.mkdir()
    (d / "in.txt").write_text("\n".join(LINES), encoding="utf-8")
    spec = MR.wordcount_spec([str(d)], num_map_tasks=2, num_reduce_tasks=2)
    files = submit_http(server.address, {
        "input_paths": list(spec.input_paths),
        "mapper": spec.mapper,
        "reducer": spec.reducer,
        "num_map_tasks": 2,
        "num_reduce_tasks": 2,
        "job_id": 7,
        "user_id": "t",
        "output_dir": str(tmp_path / "out"),
    })
    assert len(files) == 2 and all(os.path.exists(f) for f in files)
    got = {}
    for f in files:
        with open(f, encoding="utf-8") as fh:
            for ln in fh:
                if ln.strip():
                    k, _, v = ln.rstrip("\n").partition("\t")
                    got[k] = int(v)
    want = collections.Counter()
    for ln in LINES:
        want.update(TOKEN.findall(ln.lower()))
    assert got == dict(want)


def test_http_missing_script_is_400(server):
    """A vetted-directory path that doesn't exist is a client error
    (bad request), distinguishable from a server-side job failure."""
    with pytest.raises(RuntimeError, match=r"HTTP 400"):
        submit_http(server.address, {"input_paths": ["/nonexistent_dir_x"],
                                     "mapper": "m.py", "reducer": "r.py"})


def test_http_malformed_spec_is_400(server):
    """Missing required keys (mapper) → 400, not 500."""
    with pytest.raises(RuntimeError, match=r"HTTP 400"):
        submit_http(server.address, {"input_paths": ["/tmp"]})


def test_http_job_failure_is_500(server, tmp_path):
    """A well-formed request over vetted scripts that fails at run time
    (nonexistent input path) is a genuine job failure → 500."""
    with pytest.raises(RuntimeError, match=r"HTTP 500"):
        submit_http(server.address, {
            "input_paths": [str(tmp_path / "no_such_input")],
            "mapper": "wordcount_mapper.py",
            "reducer": "wordcount_reducer.py",
            "output_dir": str(tmp_path / "out_fail"),
        })


def test_http_failing_script_is_500(spark, tmp_path):
    """A vetted mapper that exits non-zero fails the job → 500."""
    (tmp_path / "exit3.py").write_text(
        "import sys\nsys.stdin.read()\nsys.exit(3)\n", encoding="utf-8")
    (tmp_path / "corpus").mkdir()
    (tmp_path / "corpus" / "in.txt").write_text("a b\n", encoding="utf-8")
    srv = JobServer(spark, scripts_dir=str(tmp_path)).start()
    try:
        with pytest.raises(RuntimeError,
                           match=r"(?s)HTTP 500.*exited with status 3"):
            submit_http(srv.address, {
                "input_paths": [str(tmp_path / "corpus")],
                "mapper": "exit3.py",
                "reducer": "exit3.py",
                "output_dir": str(tmp_path / "out"),
            })
    finally:
        srv.stop()


def test_script_outside_allowlist_rejected(server, tmp_path):
    """The endpoint executes scripts as child processes, so the path
    allowlist IS the security boundary: a request naming a script
    outside scripts_dir (absolute or traversal-relative) must be
    refused — with 403, not a generic fault — before any Spark work
    starts."""
    rogue = tmp_path / "rogue.py"
    rogue.write_text("import sys; sys.exit(0)", encoding="utf-8")
    for mapper in (str(rogue), "../" * 8 + "tmp/rogue.py"):
        with pytest.raises(RuntimeError,
                           match=r"HTTP 403.*allowlisted"):
            submit_http(server.address, {
                "input_paths": [str(tmp_path)],
                "mapper": mapper,
                "reducer": "wordcount_reducer.py",
            })


def test_bare_script_name_resolves_inside_allowlist(server, tmp_path):
    """Clients may name vetted scripts bare (no path) — the server
    resolves them against its scripts_dir."""
    d = tmp_path / "corpus2"
    d.mkdir()
    (d / "in.txt").write_text("tiny corpus tiny", encoding="utf-8")
    files = submit_http(server.address, {
        "input_paths": [str(d)],
        "mapper": "wordcount_mapper.py",
        "reducer": "wordcount_reducer.py",
        "num_map_tasks": 1,
        "num_reduce_tasks": 1,
        "output_dir": str(tmp_path / "out2"),
    })
    got = {}
    for f in files:
        with open(f, encoding="utf-8") as fh:
            for ln in fh:
                if ln.strip():
                    k, _, v = ln.rstrip("\n").partition("\t")
                    got[k] = int(v)
    assert got == {"tiny": 2, "corpus": 1}


def test_live_endpoint_returns_200_ok(server):
    """Reference parity: the master's k8s liveness probe
    (cmd/master/health.go:15-18) — GET /live → 200, body "OK"."""
    import urllib.request
    with urllib.request.urlopen(f"{server.address}/live", timeout=10) as r:
        assert r.status == 200
        assert r.read() == b"OK"


def test_get_unknown_path_is_404(server):
    import urllib.error
    import urllib.request
    with pytest.raises(urllib.error.HTTPError) as ei:
        urllib.request.urlopen(f"{server.address}/nope", timeout=10)
    assert ei.value.code == 404
