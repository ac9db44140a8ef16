"""spark-submit entrypoint: full KG construction with a resumable extraction stage.

    spark-submit --py-files dist/glinerswift_spark.zip jobs/run_kg.py \
        --input /path/to/pages_or_documents --output /path/to/kg \
        [--input-format parquet|iceberg] [--doc-col doc_id] [--text-col text] \
        [--threshold 0.5] [--buckets 64] [--salt-partitions N] \
        [--prior /path/to/previous/kg] [--analytics]

A pages input, pages(url, warc_ts, html, lang) with no text column, gets
text from html (sources/pages.read_pages); run it with --doc-col url.

Stages:
  1. entities — the job's one extraction pass, a write-audit-publish
     checkpointed step: re-running resumes from the last completed
     bucket set
  2. plans/kg_pipeline.build_kg over the checkpointed entities:
     triples, the --prior fold, linking + connected components,
     nodes/edges

Output layout under --output:
  entities/          the stage-1 checkpoint, partitioned by part_bucket
  _STATUS/           per-bucket done rows of stage 1
  mentions/ triples/ cumulative snapshots (with --prior: the prior's plus
                     this batch's); the next --prior run reads these two
  nodes/ edges/      the KG
  pagerank/ degree/ communities/ kcore3/   with --analytics

--prior must name an output of this layout other than --output. Outputs
of earlier versions of this job are not valid priors: their triples/
was the extraction checkpoint, and an incremental run kept its
cumulative triples in triples_all/ while triples/ held only its own
batch. Rebuild such a KG once without --prior.
"""

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main():
    # one BLAS thread per python worker (Spark provides the parallelism;
    # numpy's default threaded BLAS would oversubscribe workers x threads)
    for v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(v, "1")
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--embeddings", default=None,
                    help="embeddings table for linking (default: <input>/../embeddings.parquet)")
    ap.add_argument("--output", required=True)
    ap.add_argument("--input-format", default="parquet")
    ap.add_argument("--doc-col", default="doc_id")
    ap.add_argument("--text-col", default="text")
    ap.add_argument("--threshold", type=float, default=0.5)
    ap.add_argument("--buckets", type=int, default=64)
    ap.add_argument("--salt-partitions", type=int, default=None)
    ap.add_argument(
        "--analytics", action="store_true",
        help="also write graph-analytics tables derived from the "
             "materialized edges: pagerank (integer-exact, 5 rounds), "
             "degree, communities (label propagation, 4 rounds), and "
             "kcore3 — each a parquet table under --output",
    )
    ap.add_argument(
        "--prior", default=None,
        help="previous run's --output dir: treat --input as ONLY the new "
             "crawl batch, extract just it, fold in the prior run's "
             "mentions/triples, and re-run the global linking/"
             "canonicalization stages (incremental KG update; equals a "
             "full rebuild — plans/kg_pipeline.build_kg prior=)",
    )
    args = ap.parse_args()

    from pyspark.sql import SparkSession, functions as F

    from glinerswift_spark.operators.checkpoint import run_stage_with_checkpoint
    from glinerswift_spark.operators.extract import extract_entities
    from glinerswift_spark.plans.kg_pipeline import build_kg
    from glinerswift_spark.scoring.backends import FLAGSHIP_LABELS, flagship_gazetteer
    from glinerswift_spark.sources.pages import read_pages, repartition_salted, write_table

    spark = (
        SparkSession.builder.appName("glinerswift-kg")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.python.worker.reuse", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )

    docs = read_pages(spark, args.input, args.input_format)
    if args.salt_partitions:
        docs = repartition_salted(docs, args.doc_col, args.salt_partitions)

    spec = flagship_gazetteer()

    # stage 1: entities (checkpointed per bucket; resumes idempotently)
    entities = run_stage_with_checkpoint(
        spark,
        docs,
        lambda d: extract_entities(
            d, FLAGSHIP_LABELS, spec,
            text_col=args.text_col, id_cols=[args.doc_col],
            threshold=args.threshold,
        ),
        args.output, "entities", args.doc_col, num_buckets=args.buckets,
        lineage=f"input={args.input}",
    ).drop("part_bucket")

    # stage 2: every KG table reads the checkpointed entities
    emb_path = args.embeddings or os.path.join(
        os.path.dirname(args.input.rstrip("/")), "embeddings.parquet"
    )
    prior = None
    if args.prior:
        prior = tuple(
            spark.read.parquet(os.path.join(args.prior, t))
            for t in ("mentions", "triples")
        )
    kg = build_kg(
        docs, spark.read.parquet(emb_path), FLAGSHIP_LABELS, spec,
        doc_col=args.doc_col, entities=entities, prior=prior,
    )
    for t in ("mentions", "triples", "nodes", "edges"):
        write_table(kg[t], os.path.join(args.output, t))
    n_nodes = spark.read.parquet(os.path.join(args.output, "nodes")).count()
    n_edges = spark.read.parquet(os.path.join(args.output, "edges")).count()
    print(f"KG complete: {n_nodes} nodes, {n_edges} edges -> {args.output}")

    if args.analytics:
        # derived analytics read the PUBLISHED edge table (not the live
        # lineage), so a re-run with --analytics alone replays from the
        # materialized KG without re-extracting
        from glinerswift_spark.operators.graph import (
            kcore_nodes,
            label_propagation,
            pagerank_integer,
        )

        e = spark.read.parquet(os.path.join(args.output, "edges"))
        write_table(pagerank_integer(e), os.path.join(args.output, "pagerank"))
        deg = (
            e.groupBy(F.col("src_id").alias("node"))
            .agg(F.sum("weight").alias("out_weight"))
            .join(
                e.groupBy(F.col("dst_id").alias("node")).agg(
                    F.sum("weight").alias("in_weight")
                ),
                "node",
                "full",
            )
            .select(
                "node",
                F.coalesce("out_weight", F.lit(0)).alias("out_weight"),
                F.coalesce("in_weight", F.lit(0)).alias("in_weight"),
            )
        )
        write_table(deg, os.path.join(args.output, "degree"))
        write_table(
            label_propagation(e, iters=4),
            os.path.join(args.output, "communities"),
        )
        # rounds=None = peel to the fixed point: the published kcore3
        # artifact must be the TRUE 3-core, not a bounded-rounds upper
        # bound — a real web graph's deletion cascades have no known
        # bound (round-3 advice item). The bounded form stays for the
        # SQL-replayable driver oracle only.
        write_table(
            kcore_nodes(e, k=3, rounds=None), os.path.join(args.output, "kcore3")
        )
        print(f"analytics complete -> {args.output}/(pagerank|degree|communities|kcore3)")
    spark.stop()


if __name__ == "__main__":
    main()
