"""Quick end-to-end smoke: bauhaus fixture through the full pipeline.

Skips (exit 0) when the reference's parity fixture is not present.
"""
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from waka_spark.session import get_spark
from waka_spark.plans.pipeline import bauhaus_pipeline
from waka_spark.sources import fixtures as fx
from waka_spark.operators.evals import eval_triples, prf_dict

if not fx.bauhaus_available():
    print(f"SKIP: parity fixture not found under {fx.REFERENCE_DATA}")
    sys.exit(0)

spark = get_spark("smoke", master="local[4]")
pipe = bauhaus_pipeline(spark)
transcripts = fx.bauhaus_transcripts(spark)
out = pipe.run(transcripts)

print("--- documents")
out["documents"].show(truncate=100)
print("--- mentions")
out["mentions"].orderBy("start_idx").show(50, truncate=40)
print("--- candidates")
out["candidates"].orderBy("start_idx", "url").show(80, truncate=40)
print("--- entities")
out["entities"].select("conv_id", "url", "label", "score", "e_type").show(30, truncate=50)
print("--- raw_triples")
out["raw_triples"].show(30, truncate=40)
print("--- linked_triples")
out["linked_triples"].select("subj_text", "pred_text", "obj_text", "pred_url").show(30, truncate=40)
print("--- fused")
out["fused"].select("subj_url", "pred_url", "obj_url", "score").show(30, truncate=44)
print("--- final triples")
out["triples"].select("subj_url", "pred_url", "obj_url", "score").show(30, truncate=44)

gold = fx.bauhaus_gold_triples(spark)
print("--- gold")
gold.show(30, truncate=44)
print("--- eval micro")
print(prf_dict(eval_triples(out["triples"], gold)))
