"""spark-submit job main: end-to-end KG construction over a transcript
table (north_rule launch surface: ``spark-submit --py-files <pkg.zip>
scripts/run_pipeline.py``).

Stages are checkpointed to the warehouse — re-submitting with the same
``--warehouse`` resumes from the last completed stage (Warehouse.ensure
skips present tables), which is the mid-pipeline resume path the
north_rule requires.  ``_metrics.jsonl`` in the warehouse carries the
per-partition lineage rows.

Example:
  spark-submit --master 'local[8]' \
    --py-files dist/usc_ds_relationextraction_spark.zip \
    scripts/run_pipeline.py --sf-dir /root/testdata/sf0.001 \
    --warehouse /tmp/kg_wh --learned
"""

from __future__ import annotations

import argparse
import json
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    ap.add_argument("--warehouse", required=True)
    ap.add_argument("--learned", action="store_true",
                    help="train embeddings + learned-triple inference "
                         "(default: direct-DS triples only)")
    ap.add_argument("--epochs", type=int, default=15)
    ap.add_argument("--joint", action="store_true",
                    help="joint mode: RM nets + EM nets + TransE in one "
                         "epoch loop (reference retype.cpp:149-161)")
    ap.add_argument("--shuffle-partitions", type=int, default=32)
    args = ap.parse_args()

    # Inside spark-submit the session already exists; getOrCreate attaches.
    from pyspark.sql import SparkSession
    spark = (SparkSession.builder
             .appName("kg-construct")
             .config("spark.sql.shuffle.partitions",
                     str(args.shuffle_partitions))
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.sql.adaptive.skewJoin.enabled", "true")
             .config("spark.sql.execution.arrow.pyspark.enabled", "true")
             .getOrCreate())
    spark.sparkContext.setLogLevel("WARN")

    from usc_ds_relationextraction_spark.plans.pipeline import KGPipeline
    from usc_ds_relationextraction_spark.sources import synthetic as syn

    t0 = time.time()
    fx = syn.ensure_fixtures(spark, args.sf_dir)
    turns = spark.read.parquet(f"{fx}/transcripts.parquet")
    aliases = spark.read.parquet(f"{fx}/kb_aliases.parquet")
    facts = spark.read.parquet(f"{fx}/kb_facts.parquet")
    brown_df = spark.read.parquet(f"{fx}/brown_clusters.parquet")
    brown = {r["word"]: r["cluster"] for r in brown_df.collect()}

    pipe = KGPipeline(spark, args.warehouse)
    out: dict = {"sf_dir": args.sf_dir, "warehouse": args.warehouse}
    if args.learned:
        res = pipe.run_learned(turns, aliases, facts, brown,
                               epochs=args.epochs, joint=args.joint)
        m = res["metrics"]
        out.update(theta=res["theta"],
                   precision=round(m["precision"], 4),
                   recall=round(m["recall"], 4),
                   f1=round(m["f1"], 4),
                   n_triples=res["triples"].count())
    else:
        triples = pipe.run(turns, aliases, facts)
        out["n_triples"] = triples.count()
    out["stages"] = [m["stage"] for m in pipe.wh.metrics()]
    out["wall_s"] = round(time.time() - t0, 2)
    print("KG_PIPELINE_RESULT " + json.dumps(out))


if __name__ == "__main__":
    main()
