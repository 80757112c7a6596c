"""HTTP demo endpoint (waka_spark/serve.py) — reference serve.py:46-64
parity: POST text in, JSON knowledge graph out, over the same KGPipeline
the batch path runs."""

import json
import urllib.error
import urllib.request


def test_kg_service_http_roundtrip(spark):
    from waka_spark.plans.pipeline import bauhaus_pipeline
    from waka_spark.serve import KGService, start_server
    from waka_spark.sources.fixtures import sample_text

    server = start_server(KGService(spark, bauhaus_pipeline(spark)))
    port = server.server_address[1]
    base = f"http://127.0.0.1:{port}"
    try:
        with urllib.request.urlopen(f"{base}/health") as r:
            assert json.load(r) == {"status": "ok"}

        body = json.dumps(
            {"text": sample_text(), "conv_id": "bh"}).encode()
        req = urllib.request.Request(
            f"{base}/kg", data=body,
            headers={"Content-Type": "application/json"})
        with urllib.request.urlopen(req) as r:
            kg = json.load(r)
        assert kg["conv_id"] == "bh"
        assert kg["triples"] and kg["entities"]
        t = kg["triples"][0]
        assert set(t) == {"subject", "predicate", "object", "score", "id_"}
        assert {"url", "label"} <= set(t["subject"])
        urls = {e["url"] for e in kg["entities"]}
        assert any("wikidata" in (u or "") for u in urls)

        try:
            urllib.request.urlopen(
                urllib.request.Request(f"{base}/kg", data=b"{}"))
            raise AssertionError("expected HTTP 400")
        except urllib.error.HTTPError as e:
            assert e.code == 400
    finally:
        server.shutdown()


def test_service_releases_only_its_own_rdds(spark):
    """Round-3 (ADVICE): per-request cleanup unpersists only the RDDs the
    request's pipeline run pinned — a bystander persisted frame in the
    shared session survives (the old clearCache() nuked it).

    Deflaked round 4 (VERDICT #5): the old whole-set `after == before`
    assertion raced Spark's async ContextCleaner, which GC-unpersists
    EARLIER tests' dead caches between the two snapshots under full-suite
    load. Assert the two things the test actually means: (a) the
    bystander's RDD id is still persisted, (b) the request's own pins are
    gone (no NEW ids survive the request)."""
    from waka_spark.plans.pipeline import bauhaus_pipeline
    from waka_spark.serve import KGService

    def persistent_ids():
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        return {int(k) for k in jmap.keySet().toArray()}

    pre = persistent_ids()
    bystander = spark.range(100).persist()
    bystander.count()  # materialize the cache
    before = persistent_ids()
    bystander_ids = before - pre  # the cache block(s) the persist added
    assert bystander_ids
    svc = KGService(spark, bauhaus_pipeline(spark))
    svc.construct("Walter Gropius founded the Bauhaus.")
    after = persistent_ids()
    # the bystander survives untouched (it is strongly referenced here,
    # so ContextCleaner cannot collect it) ...
    assert bystander_ids <= after
    assert bystander.storageLevel.useMemory
    # ... and none of the request's own pins leaked: no id created by
    # the request survives it (pre-existing ids may vanish mid-test via
    # ContextCleaner's async GC of earlier tests' dead caches — that is
    # not the service's doing and is not asserted on)
    assert not (after - before)
    bystander.unpersist()


def test_service_leaves_no_cache_manager_entries(spark):
    """Round-3 (review): per-request release must clear the session
    CacheManager entries the pipeline's persist() stages registered —
    raw-RDD unpersist alone frees blocks but leaks one driver-side
    registry entry per request-unique plan forever."""
    from waka_spark.plans.pipeline import bauhaus_pipeline
    from waka_spark.serve import KGService

    # session-scoped fixture: other tests may legitimately hold cached
    # frames, so assert the request adds NOTHING rather than emptiness
    cm = spark._jsparkSession.sharedState().cacheManager()
    before_empty = cm.isEmpty()
    svc = KGService(spark, bauhaus_pipeline(spark))
    svc.construct("Walter Gropius founded the Bauhaus.")
    assert cm.isEmpty() == before_empty
    # and a second request still adds nothing (no per-request growth)
    svc.construct("Mies van der Rohe led the Bauhaus.")
    assert cm.isEmpty() == before_empty
