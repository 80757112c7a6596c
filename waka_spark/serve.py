"""Thin HTTP demo endpoint — API parity with the reference service surface.

The reference exposes the constructor over HTTP (serve.py:46-64: POST text
in, JSON knowledge graph out). This engine is batch-first by design
(SURVEY.md §1.3): the scale path is `spark-submit scripts/submit_job.py`
over parquet transcripts, and the response shape is covered by
``sinks.kg_json_rows``. This module closes the interactive-parity gap with
a stdlib ``ThreadingHTTPServer`` wrapper around the *same* ``KGPipeline``
dataflow — one shared SparkSession, one tiny single-conversation DataFrame
per request. It is a demo/inspection surface, not the 100-TB path; there
is deliberately no framework dependency (nothing beyond the stdlib is
available in this container, and nothing more is needed).

Endpoints:

- ``POST /kg``   body ``{"text": "...", "conv_id": "optional"}`` →
  ``{"conv_id": ..., "triples": [...], "entities": [...]}`` where each
  triple carries subject/predicate/object ``{url, label}`` + score,
  mirroring the reference's ``KnowledgeGraph.to_json`` payload
  (kg.py:238-239).
- ``GET /health`` → ``{"status": "ok"}``.
"""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from pyspark.sql import SparkSession

from waka_spark import schemas
from waka_spark.plans.pipeline import KGPipeline


class KGService:
    """Runs the batch pipeline on one request-supplied conversation.

    The per-request frame is a single transcript row, so every stage runs
    a handful of tasks.
    """

    def __init__(self, spark: SparkSession, pipeline: KGPipeline):
        self.spark = spark
        self.pipeline = pipeline
        # one pipeline run at a time: plans/pins.cut attributes the
        # persistent RDDs a run creates by diffing the session-wide set,
        # which is exact only when runs don't interleave (demo endpoint —
        # batch throughput goes through scripts/submit_job.py, not HTTP)
        self._run_lock = threading.Lock()

    def construct(self, text: str, conv_id: str = "request") -> dict:
        with self._run_lock:
            return self._construct(text, conv_id)

    def _construct(self, text: str, conv_id: str) -> dict:
        from waka_spark.plans.pins import pin_scope

        transcripts = self.spark.createDataFrame(
            [(conv_id, 0, "user", text, None, None)], schemas.TRANSCRIPTS
        )
        # Per-request storage release: the scope frees every frame the run
        # pinned (blocks AND session CacheManager entries — per-request
        # plans never deduplicate, so a leaked entry is a leak per request)
        # and every stage cut, while bystander caches in the shared
        # session survive.
        with pin_scope():
            out = self.pipeline.run(transcripts)
            triples = [
                {
                    "subject": {"url": r["subj_url"],
                                "label": r["subj_label"]},
                    "predicate": {"url": r["pred_url"],
                                  "label": r["pred_label"]},
                    "object": {"url": r["obj_url"], "label": r["obj_label"]},
                    "score": r["score"],
                    "id_": r["id_"],
                }
                for r in out["triples"].collect()
            ]
            entities = [
                {"url": r["url"], "label": r["label"], "score": r["score"]}
                for r in out["final_entities"]
                .select("url", "label", "score").collect()
            ]
        return {"conv_id": conv_id, "triples": triples, "entities": entities}


def _make_handler(service: KGService):
    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *args):  # quiet test output
            pass

        def _reply(self, code: int, payload: dict) -> None:
            body = json.dumps(payload).encode()
            self.send_response(code)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def do_GET(self):
            if self.path == "/health":
                self._reply(200, {"status": "ok"})
            else:
                self._reply(404, {"error": "not found"})

        def do_POST(self):
            if self.path != "/kg":
                self._reply(404, {"error": "not found"})
                return
            try:
                n = int(self.headers.get("Content-Length", 0))
                req = json.loads(self.rfile.read(n) or b"{}")
                text = req["text"]
            except (ValueError, KeyError) as e:
                self._reply(400, {"error": f"bad request: {e!r}"})
                return
            try:
                self._reply(
                    200,
                    service.construct(text, req.get("conv_id", "request")),
                )
            except Exception as e:  # surface pipeline errors as 500 JSON
                self._reply(500, {"error": repr(e)[:500]})

    return Handler


def start_server(service: KGService, port: int = 0) -> ThreadingHTTPServer:
    """Start the demo server on a daemon thread; returns the server (its
    bound port is ``server.server_address[1]``; ``shutdown()`` stops it)."""
    server = ThreadingHTTPServer(("127.0.0.1", port), _make_handler(service))
    threading.Thread(target=server.serve_forever, daemon=True).start()
    return server


def main() -> None:  # pragma: no cover - manual demo entry point
    from waka_spark.plans.pipeline import bauhaus_pipeline
    from waka_spark.session import get_spark

    spark = get_spark("waka_serve", master="local[4]", shuffle_partitions=4)
    server = start_server(KGService(spark, bauhaus_pipeline(spark)), port=8765)
    print(f"serving on http://127.0.0.1:{server.server_address[1]}/kg")
    threading.Event().wait()


if __name__ == "__main__":
    main()
