"""Wall time of operators/relations.entities_to_triples, the triples
stage of build_kg and jobs/run_kg.py (no perfbench workload runs it).

Inputs, each checkpointed before timing; a timed run writes
entities_to_triples(...) to the noop sink, and the min of --reps runs is
reported:
  real      the flagship entities of <sf-dir> at threshold 0.5 (the
            job's extraction), with their entities-per-document median,
            p99 and max;
  realxK    the same entities copied K (--copies) times under distinct
            doc ids: many small documents;
  denseN    one document of N entities (--dense) plus 199 of 20: a
            5-char entity every 12 chars, labels cycling
            person/organization/location, the default 100-char window.
            One hot key; real inputs hold no document this dense.

Usage: python tools/triples_bench.py --sf-dir DIR [--repo CHECKOUT]
           [--copies 20] [--dense 5000 10000] [--reps 3]
``--repo`` picks the checkout whose package is timed (default: this
tree), so one script times two versions. Prints one JSON line.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
LABELS = ["person", "organization", "location"]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--repo", default=REPO)
    ap.add_argument("--sf-dir", required=True, help="dir holding documents.parquet")
    ap.add_argument("--copies", type=int, default=20)
    ap.add_argument("--dense", type=int, nargs="*", default=[5000, 10000])
    ap.add_argument("--reps", type=int, default=3)
    args = ap.parse_args()
    sys.path.insert(0, args.repo)

    import numpy as np
    from pyspark.sql import SparkSession, functions as F

    from glinerswift_spark.config import RelationConfig
    from glinerswift_spark.operators.extract import extract_entities
    from glinerswift_spark.operators.relations import entities_to_triples
    from glinerswift_spark.scoring.backends import FLAGSHIP_LABELS, flagship_gazetteer
    from glinerswift_spark.sources.pages import read_documents

    spark = (SparkSession.builder.master("local[4]")
             .config("spark.ui.enabled", "false")
             .config("spark.driver.memory", "2g").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    cols = ["doc_id", "label", "entity", "score", "start", "end"]

    real = extract_entities(
        read_documents(spark, args.sf_dir), FLAGSHIP_LABELS, flagship_gazetteer(),
        threshold=0.5,
    ).select(*cols).localCheckpoint()
    per_doc = np.array([r[1] for r in real.groupBy("doc_id").count().collect()])
    out = {"sf_dir": args.sf_dir, "entities": int(per_doc.sum()),
           "per_doc": {"median": float(np.median(per_doc)),
                       "p99": float(np.percentile(per_doc, 99)),
                       "max": int(per_doc.max())}}

    def dense(n):
        rows = [(d, LABELS[i % 3], f"w{d}_{i % 50}", 0.5 + (i % 7) / 20, 12 * i, 12 * i + 5)
                for d in range(200) for i in range(n if d == 0 else 20)]
        return spark.createDataFrame(
            rows, "doc_id long, label string, entity string, score double, start int, end int")

    inputs = {"real": lambda: real,
              f"realx{args.copies}": lambda: real.crossJoin(spark.range(args.copies))
              .withColumn("doc_id", F.col("doc_id") * args.copies + F.col("id")).select(*cols)}
    inputs.update({f"dense{n}": (lambda n=n: dense(n)) for n in args.dense})
    for name, make in inputs.items():
        df = make().localCheckpoint()
        times = []
        for _ in range(args.reps):
            t0 = time.perf_counter()
            entities_to_triples(df, RelationConfig()).write.format("noop").mode("overwrite").save()
            times.append(time.perf_counter() - t0)
        out[f"{name}_s"] = round(min(times), 3)
    print(json.dumps(out), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
