"""The workloads' operations through the package's public entry
points, each written the way its production CLI writes, and the
post-timing check of every output. ``code_filter`` and ``corpus_build``
are timed end to end; the checkpointed flow and the near-duplicate
clusters run only inside their traced passes (layers.py).

An operation reads the staged table ``(repo, path, commit, lang,
content)`` with ``sources.corpus.read_corpus`` and writes under its own
output directory; ``cache.release_tracked()`` ends it, as in the CLIs.
"""

from __future__ import annotations

import os

import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from cleanvision_spark.cache import release_tracked
from cleanvision_spark.config import merge_params
from cleanvision_spark.sources.corpus import read_corpus
from perfbench import checks
from perfbench.corpus import Inputs

KEYS = checks.KEYS
# run_quality_filter.py defaults to 64 buckets; at this corpus size each
# bucket is two Spark jobs of mostly fixed cost (about 0.65 s on 4
# cores), so 64 buckets would take 45 s a pass. 8 buckets keep the same
# per-bucket code path inside the traced run's budget.
BUCKETS = 8


def _ids(df: DataFrame) -> DataFrame:
    """Numeric document id derived from the key, as a pure expression."""
    return df.withColumn("doc_id", F.xxhash64(*[F.col(c) for c in KEYS]))


def _read_pq(path: str, columns: list[str] | None = None) -> pd.DataFrame:
    return pq.read_table(path, columns=columns).to_pandas()


# ---------------------------------------------------------------------------
# code_filter: plans.pipeline.quality_filter, lang-partitioned write
# ---------------------------------------------------------------------------


def code_filter_frame(spark: SparkSession, table: str) -> DataFrame:
    from cleanvision_spark.plans.pipeline import quality_filter

    return quality_filter(read_corpus(spark, table), merge_params(None))


def code_filter(spark: SparkSession, table: str, out: str) -> dict:
    code_filter_frame(spark, table).write.mode("overwrite").partitionBy("lang").parquet(out)
    return {"persists": release_tracked()}


def check_code_filter(spark: SparkSession, inputs: Inputs, out: str) -> tuple[bool, dict]:
    return checks.check_code_filter(
        _read_pq(out, KEYS + ["keep", "sha256_scrubbed"]), inputs.labels()
    )


# ---------------------------------------------------------------------------
# the checkpointed run_quality_filter.py flow (traced in code_filter)
# ---------------------------------------------------------------------------


def resumable_run(spark: SparkSession, table: str, ckpt: str):
    from cleanvision_spark.sources.checkpoint import CheckpointedRun

    run = CheckpointedRun(spark, ckpt, n_buckets=BUCKETS)
    return run.run(read_corpus(spark, table), merge_params(None))


def resumable_write(result: DataFrame, out: str) -> dict:
    obs = Observation("qf_metrics")
    observed = result.observe(
        obs,
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.col("keep").cast("long")).alias("kept"),
    )
    observed.write.mode("overwrite").partitionBy("lang").parquet(out)
    return {"rows": int(obs.get["rows"]), "kept": int(obs.get["kept"] or 0),
            "persists": release_tracked()}


def check_checkpoint(
    spark: SparkSession, inputs: Inputs, out: str, info: dict
) -> tuple[bool, dict]:
    labels = inputs.labels()
    ok, res = True, {}
    for sub, obs in (("data", info), ("resumed", info["resumed"])):
        got = _read_pq(f"{out}/{sub}", KEYS + ["keep", "sha256_scrubbed"])
        sub_ok, res = checks.check_code_filter(got, labels)
        # the observe() counters must describe the rows written
        ok = ok and sub_ok and (obs["rows"], obs["kept"]) == (res["rows"], res["kept"])
    return ok, res


# ---------------------------------------------------------------------------
# corpus_build: plans.corpus_build.build_corpus, split-partitioned write
# ---------------------------------------------------------------------------


def documents(spark: SparkSession, table: str) -> tuple[DataFrame, DataFrame]:
    """The documents shape ``(doc_id, text, source)`` and the held-out
    eval slice it is decontaminated against."""
    corpus = read_corpus(spark, table)
    docs = _ids(corpus).select(
        "doc_id", F.col("content").alias("text"), F.col("repo").alias("source")
    )
    in_eval = F.pmod(F.crc32(F.concat_ws("|", *KEYS)), F.lit(checks.EVAL_MOD)) == 0
    return docs, corpus.filter(in_eval).select(F.col("content").alias("text"))


STAGES = ("quality", "dedup", "decontaminate", "cap", "split", "pack")


def build_kwargs(eval_df: DataFrame, upto: str = "pack") -> dict:
    """``build_corpus`` arguments with the stages after ``upto`` off."""
    on = set(STAGES[: STAGES.index(upto) + 1])
    return dict(
        min_quality=checks.MIN_QUALITY,
        dedup="normalized" if "dedup" in on else "none",
        benchmark_df=eval_df if "decontaminate" in on else None,
        decontaminate_n=checks.DECONTAMINATE_N,
        cap=checks.CAP if "cap" in on else None,
        splits=checks.SPLITS if "split" in on else None,
        seq_len=checks.SEQ_LEN if "pack" in on else None,
    )


def corpus_build(spark: SparkSession, table: str, out: str) -> dict:
    from cleanvision_spark.plans.corpus_build import build_corpus

    docs, eval_df = documents(spark, table)
    built = build_corpus(docs, **build_kwargs(eval_df))
    built.write.mode("overwrite").partitionBy("split").parquet(out)
    return {"persists": release_tracked()}


def check_corpus_build(
    spark: SparkSession, inputs: Inputs, out: str, digest_file: str
) -> tuple[bool, dict]:
    """Checked against the digest of the first checked output of this
    ``(seed, size)``, kept in the input cache."""
    got = _read_pq(out)
    got["split"] = got["split"].astype(str)
    digest = None
    if os.path.exists(digest_file):
        with open(digest_file) as f:
            digest = f.read().strip()
    ok, info = checks.check_corpus_build(got, inputs.corpus(), digest)
    if ok and digest is None:
        with open(digest_file, "w") as f:
            f.write(info["digest"])
    return ok, info


# ---------------------------------------------------------------------------
# near-duplicate clusters: dedup.jaccard_pairs_blocked +
# graph.assign_components (traced in corpus_build)
# ---------------------------------------------------------------------------


def near_dup_input(spark: SparkSession, table: str) -> DataFrame:
    return _ids(read_corpus(spark, table)).select(F.col("doc_id").alias("id"), "content")


def near_dup_pairs(df: DataFrame) -> DataFrame:
    from cleanvision_spark.operators.dedup import jaccard_pairs_blocked

    return jaccard_pairs_blocked(df, "id", "content")


def near_dup_components(df: DataFrame, pairs: DataFrame) -> DataFrame:
    from cleanvision_spark.operators.graph import assign_components

    return assign_components(df.select("id"), "id", pairs, "id_a", "id_b")


def id_keys(spark: SparkSession, table: str) -> pd.DataFrame:
    """id -> key string, from the same id expression (one small job,
    outside the timing)."""
    rows = _ids(read_corpus(spark, table)).select(
        F.col("doc_id").alias("id"), F.concat_ws("|", *KEYS).alias("key")
    )
    return rows.toPandas()


def check_near_dup(spark: SparkSession, inputs: Inputs, out: str) -> tuple[bool, dict]:
    return checks.check_components(
        _read_pq(out), id_keys(spark, inputs.table), inputs.components())
