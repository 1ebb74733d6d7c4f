"""The benchmark workloads: inputs, the timed operation, output checks
and the traced standalone pass over each layer.

Each workload is a closed loop with one client: ``op`` runs one call
of the workload's operation and returns only when its output is
written, and the next call starts after it. Only the package's public
functions are called.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import time

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gen import PREP_DEDUP_THRESHOLD, PREP_LANGUAGES, PREP_MIN_QUALITY, digest
from parallel_inverted_index_map_reduce_spark.functions.scrub import scrub_text
from parallel_inverted_index_map_reduce_spark.functions.text import tokens_df
from parallel_inverted_index_map_reduce_spark.operators import dedup, similarity
from parallel_inverted_index_map_reduce_spark.operators.chunking import chunk_documents
from parallel_inverted_index_map_reduce_spark.operators.index import build_index
from parallel_inverted_index_map_reduce_spark.operators.packing import (
    pack_sequences,
    packing_stats,
)
from parallel_inverted_index_map_reduce_spark.operators.textstats import quality_scores
from parallel_inverted_index_map_reduce_spark.pipeline import (
    prepare_training_data,
    run_and_land,
)
from parallel_inverted_index_map_reduce_spark.sinks.partitioned import write_partitioned
from parallel_inverted_index_map_reduce_spark.sinks.text_index import (
    LETTERS,
    write_index_text,
)
from parallel_inverted_index_map_reduce_spark.sources.tables import load_table

# llm_prep settings beyond those in gen.py, plus the SemDedup knobs
PREP_BUDGET = 256
SEMDEDUP_LISTS = 8
SEMDEDUP_THRESHOLD = 0.95


def noop(df: DataFrame) -> None:
    """Force every column of ``df`` through the noop sink."""
    df.write.format("noop").mode("overwrite").save()


def _tree_bytes(path: str) -> tuple[int, int]:
    files = [p for p in glob.glob(os.path.join(path, "**"), recursive=True)
             if os.path.isfile(p)]
    return sum(os.path.getsize(p) for p in files), len(files)


def _read_bytes(path: str) -> bytes:
    with open(path, "rb") as fh:
        return fh.read()


def _read_rows(path: str, columns: list[str]) -> list[tuple]:
    """Rows of a parquet dataset, read driver-side without Spark."""
    t = pq.read_table(path, columns=columns, partitioning="hive")
    return list(zip(*(t.column(c).to_pylist() for c in columns)))


def _rows_digest(rows) -> str:
    """Order-free digest of a row set."""
    return digest(repr(r) for r in sorted(tuple(r) for r in rows))


class IndexBuild:
    """docs -> build_index -> write_index_text (26 letter files)."""

    name = "index_build"
    kind = "index"
    warmup_ops = 2  # warm-up calls over smaller inputs: checked, not timed
    min_ops = 5
    items_unit = "input tokens"
    rate_name = "index_tokens_per_s"

    def __init__(self, inputs: str, params: dict, work: str, package_digest: str):
        self.inputs, self.params, self.work = inputs, params, work
        self.out = os.path.join(work, "index_out")
        self.items = params["tokens"]
        self.reference = {
            c: _read_bytes(os.path.join(inputs, "reference", f"{c}.txt")) for c in LETTERS
        }

    def register(self, spark: SparkSession) -> int:
        return load_table(spark, self.inputs, "documents").count()

    def op(self, spark: SparkSession, t) -> dict:
        with t.span("sources.load_table"):
            docs = load_table(spark, self.inputs, "documents")
        with t.span("operators.index.build_index"):
            idx = build_index(docs)
        with t.span("sinks.text_index.write_index_text"):
            write_index_text(idx, self.out)
        return {}

    def check(self, spark: SparkSession) -> list[str]:
        return self._check_letters(self.out)

    def _check_letters(self, out: str) -> list[str]:
        got = sorted(os.listdir(out))
        want = sorted(f"{c}.txt" for c in LETTERS)
        if got != want:
            return [f"index files {got} != {want}"]
        bad = [c for c in LETTERS
               if _read_bytes(os.path.join(out, f"{c}.txt")) != self.reference[c]]
        return [f"letter files differ from the reference index: {bad}"] if bad else []

    def standalone(self, spark: SparkSession, t, stats) -> tuple[dict, list[str]]:
        """Each layer's entry point alone, input pinned, noop sink."""
        m: dict = {}
        docs = load_table(spark, self.inputs, "documents").localCheckpoint()
        with t.span("functions.tokens_df") as s:
            noop(tokens_df(docs))
        m["functions.tokenize_s"] = s.duration
        m["functions.tokens"] = tokens_df(docs).count()
        with t.span("operators.index.build_index") as s:
            t0 = time.perf_counter()
            built = build_index(docs)
            m["driver.construct_s"] = time.perf_counter() - t0
            noop(built)
        st = stats(s)
        m["operators.index.build_s"] = s.duration
        for k in ("task_s", "max_task_s", "shuffle_bytes", "spill_bytes", "idle_frac"):
            m[f"operators.index.{k}"] = st[k]
        idx = build_index(docs).localCheckpoint()
        m["operators.index.words"] = idx.count()
        m["operators.index.postings"] = int(idx.agg(F.sum("df")).first()[0])
        out = os.path.join(self.work, "index_standalone")
        with t.span("sinks.text_index.write_index_text") as s:
            write_index_text(idx, out)
        m["sinks.text_index.write_s"] = m["sinks.write_s"] = s.duration
        m["sinks.bytes_written"], m["sinks.files_written"] = _tree_bytes(out)
        errs = self._check_letters(out)
        shutil.rmtree(out, ignore_errors=True)
        return m, errs


class LlmPrep:
    """run_and_land over a corpus with planted exact and near
    duplicates, one near-dup cluster dominant; the landed doc_ids must
    equal the generator's pure-Python reference set. semantic_dedup over
    clustered embeddings runs in the traced pass (see ``standalone``)."""

    name = "llm_prep"
    kind = "prep"
    warmup_ops = 1
    # ~12 s per call, above a floor of ~10 s of scheduling and driver
    # work: more calls would not fit the run time
    min_ops = 2
    items_unit = "input docs"
    rate_name = "prep_docs_per_s"

    def __init__(self, inputs: str, params: dict, work: str, package_digest: str):
        self.inputs, self.params, self.work = inputs, params, work
        self.landed = os.path.join(work, "prep_landed")
        self.items = params["docs"]
        self.package_digest = package_digest
        with open(os.path.join(inputs, "planted.json")) as fh:
            planted = json.load(fh)
        self.kept_ids = set(planted["kept_doc_ids"])
        self.dup_vecs = set(planted["exact_dup_vecs"])

    def register(self, spark: SparkSession) -> int:
        return load_table(spark, self.inputs, "documents").count()

    def _kwargs(self) -> dict:
        return {"languages": PREP_LANGUAGES, "min_quality": PREP_MIN_QUALITY,
                "dedup_threshold": PREP_DEDUP_THRESHOLD, "budget": PREP_BUDGET}

    def op(self, spark: SparkSession, t) -> dict:
        with t.span("sources.load_table"):
            docs = load_table(spark, self.inputs, "documents")
        with t.span("pipeline.run_and_land"):
            run_and_land(spark, docs, self.landed, **self._kwargs())
        return {}

    def _same_digest(self, key: str, rows) -> list[str]:
        """The row-set digest must repeat across calls and across runs
        of one seed and one package version: the first one is kept
        beside the inputs. An extra check; the reference check comes
        first."""
        path = os.path.join(self.inputs, f"{key}-{self.package_digest[:16]}.digest")
        d = _rows_digest(rows)
        if not os.path.exists(path):
            with open(path, "w") as fh:
                fh.write(d)
        with open(path) as fh:
            return [] if fh.read() == d else [f"{key} row-set digest changed"]

    def check(self, spark: SparkSession) -> list[str]:
        landed = _read_rows(self.landed, ["doc_id", "chunk_id", "n_tokens", "chunk"])
        ids = {r[0] for r in landed}
        errs = []
        if ids != self.kept_ids:
            errs.append(f"landed doc_ids differ from the reference: missing "
                        f"{sorted(self.kept_ids - ids)[:5]}, extra {sorted(ids - self.kept_ids)[:5]}")
        return errs + self._same_digest("landed", landed)

    def check_semdedup(self, path: str) -> list[str]:
        drops = _read_rows(path, ["vec_id", "kept_by", "n_witnesses"])
        kept = self.dup_vecs - {r[0] for r in drops}
        errs = [f"planted duplicate vectors kept: {sorted(kept)[:5]}"] if kept else []
        return errs + self._same_digest("semdedup", drops)

    def standalone(self, spark: SparkSession, t, stats) -> tuple[dict, list[str]]:
        """Each stage of the prep path alone over a pinned input, in
        pipeline order (every stage's input is the previous stage's
        pinned output), then SemDedup over the embeddings, checked."""
        m: dict = {}
        docs = load_table(spark, self.inputs, "documents").localCheckpoint()
        emb = load_table(spark, self.inputs, "embeddings").localCheckpoint()
        n_docs = docs.count()
        scrubbed = docs.withColumn("text", scrub_text(F.col("text")))
        with t.span("functions.scrub_text") as s:
            noop(scrubbed)
        m["functions.scrub_s"] = s.duration
        scrubbed = scrubbed.where(F.col("lang").isin(*PREP_LANGUAGES)).localCheckpoint()
        with t.span("operators.textstats.quality_scores") as s:
            noop(quality_scores(scrubbed))
        m["operators.textstats.quality_s"] = s.duration
        m["operators.textstats.task_s"] = stats(s)["task_s"]
        kept = scrubbed.join(
            quality_scores(scrubbed)
            .where(F.col("quality_score").cast("double") >= PREP_MIN_QUALITY)
            .select("doc_id"),
            "doc_id", "left_semi",
        ).localCheckpoint()
        with t.span("operators.dedup.near_dup_keep_list") as s:
            keep = dedup.near_dup_keep_list(kept, threshold=PREP_DEDUP_THRESHOLD)
            noop(keep)
        st = stats(s)
        m["operators.dedup.keep_list_s"] = s.duration
        for k in ("max_task_s", "shuffle_bytes", "spill_bytes"):
            m[f"operators.dedup.{k}"] = st[k]
        canon = kept.join(
            dedup.exact_dedup_groups(kept).select(F.col("keep_doc_id").alias("doc_id")),
            "doc_id", "left_semi",
        ).localCheckpoint()
        pairs = dedup.lsh_candidate_pairs(canon).localCheckpoint()
        cand = pairs.count()
        verified = dedup.jaccard_verify(pairs, dedup.shingles(canon)).where(
            F.col("jaccard").cast("double") >= PREP_DEDUP_THRESHOLD
        ).count()
        m["operators.dedup.candidate_pairs"] = cand
        m["operators.dedup.verified_pairs"] = verified
        m["operators.dedup.pair_yield"] = verified / cand if cand else 0.0
        m["operators.dedup.max_bucket"] = int(
            dedup.lsh_bucket_overflow(canon, 0).agg(F.max("n_members")).first()[0] or 0
        )
        deduped = kept.join(
            keep.where("keep").select("doc_id"), "doc_id", "left_semi"
        ).localCheckpoint()
        chunks = chunk_documents(deduped).localCheckpoint()
        m["operators.chunking.chunks"] = chunks.count()
        with t.span("operators.packing.pack_sequences") as s:
            packed = pack_sequences(chunks, budget=PREP_BUDGET, token_col="n_tokens",
                                    id_cols=("doc_id", "chunk_id"))
            noop(packed)
        m["operators.packing.pack_s"] = s.duration
        m["operators.packing.fill_frac"] = float(
            packing_stats(packed, PREP_BUDGET).first()["fill_pct"] or 0.0
        ) / 100.0
        with t.span("pipeline.prepare_training_data") as s:
            prepared = prepare_training_data(docs, **self._kwargs())
        m["pipeline.construct_s"] = m["driver.construct_s"] = s.duration
        prepared = prepared.withColumn("shard", (F.col("bin_id") % 16).cast("int")).localCheckpoint()
        m["pipeline.kept_frac"] = prepared.select("doc_id").distinct().count() / n_docs
        out = os.path.join(self.work, "prep_standalone")
        with t.span("sinks.partitioned.write_partitioned") as s:
            write_partitioned(prepared, out, ["shard"])
        m["sinks.partitioned.write_s"] = m["sinks.write_s"] = s.duration
        m["sinks.bytes_written"], m["sinks.files_written"] = _tree_bytes(out)
        shutil.rmtree(out, ignore_errors=True)
        with t.span("operators.similarity.ivf_fit") as s:
            cents = similarity.ivf_fit(emb, n_list=SEMDEDUP_LISTS, n_iters=2)
        m["operators.similarity.fit_s"] = s.duration
        drops_dir = os.path.join(self.work, "semdedup_drops")
        with t.span("operators.similarity.semantic_dedup") as s:
            similarity.semantic_dedup(
                emb, threshold=SEMDEDUP_THRESHOLD, centroids=cents
            ).write.mode("overwrite").parquet(drops_dir)
        st = stats(s)
        errs = self.check_semdedup(drops_dir)
        m["operators.similarity.semdedup_s"] = s.duration
        m["operators.similarity.semdedup_vecs_per_s"] = self.params["vecs"] / s.duration
        m["operators.similarity.max_task_s"] = st["max_task_s"]
        m["operators.similarity.python_rows"] = st["python_rows"]
        sizes = similarity.ivf_assign(emb, cents).groupBy("list_id").count().collect()
        m["operators.similarity.pairs_scored"] = sum(r[1] * (r[1] - 1) // 2 for r in sizes)
        return m, errs


WORKLOADS = {w.name: w for w in (IndexBuild, LlmPrep)}
