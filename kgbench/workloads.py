"""The benchmark workloads.

Each workload prepares its inputs (repeatably, for the set-up median),
runs one timed engine job per call, and checks that job's output. Job 0
is the first in a fresh JVM; later jobs are warm.

* ``build_web``: a fresh ``run_checkpointed`` (dict tagger, 16 buckets)
  over web-weight pages with recrawled duplicates and a large
  non-matching alias dictionary.
* ``neural_tag``: a fresh ``run_checkpointed`` with the DATEXIS-NER
  BiLSTM tagger over a trigram vocabulary built during set-up.
* ``analytics_skew``: ``write_analytics`` over a skewed triple table.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import time

import pandas as pd
import pyarrow.parquet as pq

from kgbench import checks, inputs

N_BUCKETS = 16

SIZES = {
    "full": {
        "build_web": {"n_docs": 1_000, "n_aliases": 50_000},
        "neural_tag": {"n_docs": 80},
        "analytics_skew": {"n_ent": 10_000, "n_edges": 100_000},
    },
    # self-test sizes: every code path, seconds per workload
    "tiny": {
        "build_web": {"n_docs": 40, "n_aliases": 500, "giant_doc_sentences": 30},
        "neural_tag": {"n_docs": 30, "giant_doc_sentences": 30},
        "analytics_skew": {"n_ent": 300, "n_edges": 3_000},
    },
}


def parquet_stats(*dirs: str) -> tuple[int, int, int]:
    """(data files, data bytes, rows) of the Parquet files under dirs;
    local-filesystem .crc and _SUCCESS markers are not data files."""
    files = size = rows = 0
    for d in dirs:
        for base, _sub, names in os.walk(d):
            for n in names:
                if n.endswith(".parquet"):
                    p = os.path.join(base, n)
                    files += 1
                    size += os.path.getsize(p)
                    rows += pq.ParquetFile(p).metadata.num_rows
    return files, size, rows


def read_parquet_dir(path: str, columns: list[str] | None = None) -> pd.DataFrame:
    """The Parquet table under path. A partitioned write of zero rows
    leaves no data file; such a directory reads as an empty table."""
    if not parquet_stats(path)[0]:
        return pd.DataFrame(columns=columns)
    return pq.read_table(path, columns=columns, partitioning="hive").to_pandas()


class Workload:
    """One workload over one Spark session and one seed."""

    parent = "pipeline"  # the traced job's enclosing layer

    def __init__(self, spark, work_dir: str, seed: int, size: dict):
        self.spark = spark
        self.work = os.path.join(work_dir, self.name)
        self.seed = seed
        self.size = size
        self._staged: list = []
        os.makedirs(self.work, exist_ok=True)

    def _stage(self, pdf: pd.DataFrame, schema):
        df = self.spark.createDataFrame(pdf, schema=schema).persist()
        df.count()
        self._staged.append(df)
        return df

    def release(self) -> None:
        for df in self._staged:
            df.unpersist()
        self._staged = []

    def job_dir(self, k: int) -> str:
        return os.path.join(self.work, f"job{k}")

    def _fresh_job_dir(self, k: int) -> str:
        """Job k's empty output dir; job k-1's output is no longer needed."""
        for j in (k - 1, k):
            shutil.rmtree(self.job_dir(j), ignore_errors=True)
        return self.job_dir(k)

    def _span(self, tracer):
        """The traced job's parent span, or a plain dict when untraced."""
        return tracer.job(self.parent) if tracer else contextlib.nullcontext({})

    def table_dirs(self, k: int) -> tuple[str, ...]:
        raise NotImplementedError


class BuildWeb(Workload):
    name = "build_web"
    tagger: dict = {}  # run_checkpointed tagger arguments

    def prepare(self) -> None:
        from bioner_spark.schemas import ALIAS_DICT_SCHEMA, PAGES_SCHEMA

        self.release()
        pages, self.gold, seed_alias = inputs.web_pages(
            self.size["n_docs"], self.seed,
            giant_doc_sentences=self.size.get("giant_doc_sentences", 400),
        )
        alias = pd.concat(
            [
                seed_alias,
                inputs.distractor_aliases(
                    self.size.get("n_aliases", 0), self.seed, inputs.corpus_words(pages)
                ),
            ],
            ignore_index=True,
        )
        self.alias_pd = alias
        self.pages = self._stage(pages, PAGES_SCHEMA)
        self.alias = self._stage(alias, ALIAS_DICT_SCHEMA)
        self.input_rows = pages["url"].nunique()

    def job(self, k: int, tracer=None) -> float:
        from bioner_spark.pipeline import run_checkpointed

        out_dir = self._fresh_job_dir(k)
        with self._span(tracer) as span:
            t0 = time.perf_counter()
            self.last = run_checkpointed(
                self.spark, self.pages, self.alias, out_dir, n_buckets=N_BUCKETS,
                **self.tagger,
            )
            wall = time.perf_counter() - t0
        span["rows_out"] = parquet_stats(f"{out_dir}/triples")[2]
        return wall

    def triples(self, k: int) -> pd.DataFrame:
        return read_parquet_dir(f"{self.job_dir(k)}/triples", checks.TRIPLE_COLS)

    def check(self, k: int) -> list[str]:
        try:
            return checks.check_triples(self.triples(k), self.gold)
        finally:
            self.last.unpersist()

    def table_dirs(self, k: int) -> tuple[str, ...]:
        d = self.job_dir(k)
        return f"{d}/triples", f"{d}/manifest"


class NeuralTag(BuildWeb):
    name = "neural_tag"
    SAMPLE_DOCS = 2  # tag check sample: the docs with the smallest doc keys

    def prepare(self) -> None:
        from bioner_spark.extract import with_extracted_text
        from bioner_spark.functions.ngrams import build_vocabulary, vocab_size
        from bioner_spark.ner.kernel import load_model_config
        from bioner_spark.tokenizer import tokenize

        super().prepare()
        toks = tokenize(
            with_extracted_text(self.pages.select("url", "html")), with_offsets=False
        )
        self.vocab = build_vocabulary(toks, min_word_frequency=10).persist()
        self._staged.append(self.vocab)
        self.sparse_dim = vocab_size(self.vocab)
        self.model = load_model_config("DATEXIS-NER", input_dim=15 + self.sparse_dim)
        self.tagger = {"tagger": "neural", "model": self.model, "vocab": self.vocab}
        self.components = checks.alias_components(self.alias_pd)

    def check(self, k: int) -> list[str]:
        from pyspark.sql import functions as F

        from bioner_spark.ner.infer import encoded_sentences

        try:
            tagged = self.last.tokens
            keys = (
                tagged.select("doc_id").distinct().orderBy("doc_id")
                .limit(self.SAMPLE_DOCS)
            )
            sample = tagged.join(F.broadcast(keys), "doc_id", "left_semi")
            got = {
                (r["doc_id"], r["sentence_id"], r["token_id"]): r["tag"]
                for r in sample.select("doc_id", "sentence_id", "token_id", "tag").collect()
            }
            encoded = encoded_sentences(sample.drop("tag"), self.vocab).collect()
            expected = checks.authority_tags(self.model, encoded, self.sparse_dim)
            problems = checks.check_tags(got, expected)
            triples = self.triples(k)
            problems += checks.check_components(triples, self.components)
            linked = (
                self.last.mentions.filter(F.col("component").isNotNull())
                .select("doc_id", "sentence_id", "start_tok").toPandas()
            )
            problems += checks.check_pair_sentences(triples, linked)
            if k == 0:
                self.first_triples = triples
            else:
                problems += checks.check_triples(triples, self.first_triples)
            return problems
        finally:
            self.last.unpersist()


class AnalyticsSkew(Workload):
    name = "analytics_skew"
    parent = "kg_analytics"
    PRODUCTS = ("entity_degree", "cooccurrence_pmi", "pagerank", "khop_neighbors")

    def prepare(self) -> None:
        from scripts.verify_kg_scale import gen_triples

        path = os.path.join(self.work, "triples.parquet")
        gen_triples(path, n_ent=self.size["n_ent"], n_edges=self.size["n_edges"], seed=self.seed)
        self.path = path
        self.table = self.spark.read.parquet(path)
        self.input_rows = self.size["n_edges"]
        self.oracle = None

    def job(self, k: int, tracer=None) -> float:
        from bioner_spark.kg_analytics import write_analytics

        out_dir = self._fresh_job_dir(k)
        with self._span(tracer) as span:
            t0 = time.perf_counter()
            write_analytics(self.table, out_dir)
            wall = time.perf_counter() - t0
        span["rows_out"] = parquet_stats(out_dir)[2]
        return wall

    def _oracle(self) -> dict[str, pd.DataFrame]:
        import duckdb

        import __spark_entry__ as entry
        from scripts.verify_kg_scale import DEGREE_SQL, PMI_SQL

        sql = {
            "entity_degree": DEGREE_SQL,
            "cooccurrence_pmi": PMI_SQL,
            "pagerank": "WITH " + entry._pagerank_cte(iterations=5).strip(),
            "khop_neighbors": "WITH " + entry._khop_cte(k=3, n_seeds=5).strip(),
        }
        con = duckdb.connect()
        try:
            con.execute(f"CREATE VIEW triples AS SELECT * FROM read_parquet('{self.path}')")
            return {name: con.execute(q).fetchdf() for name, q in sql.items()}
        finally:
            con.close()

    def products(self, k: int) -> dict[str, pd.DataFrame]:
        return {
            p: read_parquet_dir(os.path.join(self.job_dir(k), p)) for p in self.PRODUCTS
        }

    def check(self, k: int) -> list[str]:
        if self.oracle is None:
            self.oracle = self._oracle()
        return checks.check_analytics(self.products(k), self.oracle)

    def table_dirs(self, k: int) -> tuple[str, ...]:
        return (self.job_dir(k),)


WORKLOADS = {w.name: w for w in (BuildWeb, NeuralTag, AnalyticsSkew)}
