"""HTTP job endpoint + thin client: the reference's deployment surface.

Reference parity (SURVEY.md §2 E1/E2): a client POSTs a JSON
MapReduceSpec to ``POST /mapreduce`` on the master
(cmd/master/http_server.go:30-58) and receives ``{"files": [...]}``;
the CLI also uploads UDF script directories and downloads outputs
(client/mrclient.go:59-198). Here the "master" is a stdlib HTTP server
wrapping ``mapreduce.submit_job`` over a shared SparkSession — all
scheduling/retry/heartbeat machinery the reference hand-rolls (D1, F1,
F2) is Spark's platform.

Spec JSON shape (mirrors client/mr_spec.json + upload_spec.json):
    {"input_paths": [...], "mapper": "path.py", "reducer": "path.py",
     "num_map_tasks": 20, "num_reduce_tasks": 5,
     "job_id": 123, "user_id": "u1", "output_dir": "/tmp/out"}
"""

from __future__ import annotations

import json
import os
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from pyspark.sql import SparkSession

from cloud_native_mapreduce_spark.mapreduce import MapReduceSpec, submit_job


#: Default allowlisted scripts root: the repo's own scripts/ directory.
_DEFAULT_SCRIPTS_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts")


def _validated_script(path: str, scripts_dir: str) -> str:
    """Resolve a requested mapper/reducer path inside the allowlisted
    scripts directory. The endpoint executes these as child processes
    (JavaRDD.pipe), so an unrestricted path is remote code execution for
    anyone who can reach the socket — the trust model is: whoever
    controls ``scripts_dir`` controls what can run, and the HTTP caller
    only picks WHICH vetted script. Relative paths resolve against
    scripts_dir; absolute paths must already live under it."""
    root = os.path.realpath(scripts_dir)
    cand = os.path.realpath(
        path if os.path.isabs(path) else os.path.join(root, path))
    if os.path.commonpath([root, cand]) != root:
        raise PermissionError(
            f"script {path!r} is outside the allowlisted scripts "
            f"directory {scripts_dir!r}")
    if not os.path.isfile(cand):
        raise FileNotFoundError(f"script {path!r} not found under "
                                f"{scripts_dir!r}")
    return cand


def _spec_from_json(payload: dict, scripts_dir: str | None = None
                    ) -> tuple[MapReduceSpec, str | None]:
    """scripts_dir is the confinement root for mapper/reducer paths.
    None = trusted local caller (the CLI running under the user's own
    authority — no privilege boundary to protect); the HTTP endpoint
    ALWAYS passes its allowlist directory."""
    def script(p: str) -> str:
        return _validated_script(p, scripts_dir) if scripts_dir else p
    spec = MapReduceSpec(
        input_paths=tuple(payload["input_paths"]),
        mapper=script(payload["mapper"]),
        reducer=script(payload["reducer"]),
        num_map_tasks=int(payload.get("num_map_tasks", 8)),
        num_reduce_tasks=int(payload.get("num_reduce_tasks", 4)),
        job_id=int(payload.get("job_id", 0)),
        user_id=str(payload.get("user_id", "local")))
    return spec, payload.get("output_dir")


class JobServer:
    """Single-process job endpoint. ``start()`` binds an ephemeral (or
    given) port; jobs run on the wrapped SparkSession; ``stop()`` shuts
    the listener down. Thread-safe: ThreadingHTTPServer + Spark's own
    thread-safe session.

    Trust model: requested mapper/reducer paths are confined to
    ``scripts_dir`` (default: the repo's scripts/). The default
    127.0.0.1 bind limits exposure to local processes; binding a
    routable host publishes code execution over the vetted script set
    to anyone who can reach the socket — front it with real authn
    (reverse proxy / network policy) before doing that."""

    def __init__(self, spark: SparkSession, host: str = "127.0.0.1",
                 port: int = 0, scripts_dir: str | None = None) -> None:
        self._spark = spark
        self._scripts_dir = scripts_dir or _DEFAULT_SCRIPTS_DIR
        outer = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, fmt, *args):  # quiet
                pass

            def do_GET(self) -> None:  # noqa: N802 - http.server contract
                """``GET /live`` → 200 "OK": the k8s liveness probe the
                reference master exposes (cmd/master/health.go:15-18).
                Deliberately cheap — no Spark call — so a busy session
                never fails the probe; orchestrators restart on probe
                failure, and restarting a master mid-job because Spark
                was busy would be self-inflicted downtime."""
                if self.path != "/live":
                    self.send_error(404)
                    return
                body = b"OK"
                self.send_response(200)
                self.send_header("Content-Type", "text/plain")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def do_POST(self) -> None:  # noqa: N802 - http.server contract
                if self.path != "/mapreduce":
                    self.send_error(404)
                    return
                try:
                    n = int(self.headers.get("Content-Length", "0"))
                    payload = json.loads(self.rfile.read(n))
                    spec, out_dir = _spec_from_json(
                        payload, outer._scripts_dir)
                except PermissionError as exc:  # allowlist escape → 403
                    self._send_json(403, {"error": str(exc)})
                    return
                except (FileNotFoundError, KeyError, TypeError,
                        ValueError) as exc:  # malformed request → 400
                    self._send_json(400, {"error": str(exc)})
                    return
                try:
                    files = submit_job(outer._spark, spec, out_dir)
                    self._send_json(200, {"files": files})
                except Exception as exc:  # genuine job failure → 500
                    self._send_json(500, {"error": str(exc)})

            def _send_json(self, status: int, obj: dict) -> None:
                body = json.dumps(obj).encode()
                self.send_response(status)
                self.send_header("Content-Type", "application/json")
                self.end_headers()
                self.wfile.write(body)

        self._server = ThreadingHTTPServer((host, port), Handler)
        self._thread: threading.Thread | None = None

    @property
    def address(self) -> str:
        host, port = self._server.server_address[:2]
        return f"http://{host}:{port}"

    def start(self) -> "JobServer":
        self._thread = threading.Thread(target=self._server.serve_forever,
                                        daemon=True)
        self._thread.start()
        return self

    def stop(self) -> None:
        self._server.shutdown()
        self._server.server_close()
        if self._thread:
            self._thread.join(timeout=10)


def submit_http(endpoint: str, spec_payload: dict,
                timeout: float = 600.0) -> list[str]:
    """Client side: POST a job spec, return output file paths — the
    reference CLI's run path (client/mrclient.go:115-198) minus blob
    plumbing."""
    import urllib.error
    import urllib.request

    req = urllib.request.Request(
        f"{endpoint}/mapreduce",
        data=json.dumps(spec_payload).encode(),
        headers={"Content-Type": "application/json"},
        method="POST")
    try:
        with urllib.request.urlopen(req, timeout=timeout) as resp:
            out = json.loads(resp.read())
    except urllib.error.HTTPError as exc:  # surface the server's message
        try:
            msg = json.loads(exc.read()).get("error", str(exc))
        except Exception:
            msg = str(exc)
        raise RuntimeError(f"HTTP {exc.code}: {msg}") from None
    if "error" in out:
        raise RuntimeError(out["error"])
    return out["files"]
