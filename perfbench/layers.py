"""Per-layer decomposition of each workload for the traced run.

Each ``run_*`` executes one pass under named spans: cumulative
prefixes of the workload, each materialized with the ``noop`` sink so
Catalyst can prune nothing, then the full operation (span ``op``).
Each ``metrics_*`` turns the pass's spans and the event-log counters of
their job groups into per-layer metrics, and checks the plan shape:
that the executed plans contain the operators the workload claims to
measure.
"""

from __future__ import annotations

import os
import re

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cleanvision_spark.cache import release_tracked
from cleanvision_spark.config import merge_params
from cleanvision_spark.sources.corpus import read_corpus
from perfbench import workloads as WL
from perfbench.corpus import Inputs
from perfbench.trace import (
    Tracer,
    function_metrics,
    new_group,
    plan_shape,
    scans_of,
    session_metrics,
)

PER_LAYER = [
    "functions.python_s",
    "functions.python_in_mb",
    "functions.python_out_mb",
    "operators.properties.self_s",
    "operators.issues.self_s",
    "operators.duplicates.self_s",
    "operators.duplicates.shuffle_mb",
    "operators.decision.self_s",
    "plans.pipeline.write_s",
    "sources.checkpoint.row_stage_s",
    "sources.checkpoint.input_scans",
    "sources.checkpoint.rowstage_mb",
    "sources.checkpoint.assemble_s",
    "sources.checkpoint.resume_s",
    *[f"plans.corpus_build.{s}_self_s" for s in WL.STAGES],
    "plans.corpus_build.write_s",
    "cache.persists",
    "operators.dedup.pairs_s",
    "operators.dedup.candidate_pairs",
    "operators.dedup.pair_yield",
    "operators.graph.cc_s",
    "operators.graph.rounds",
    "session.jobs",
    "session.tasks",
    "session.shuffle_write_mb",
    "session.spill_mb",
    "session.gc_s",
    "session.driver_gap_s",
    "trace.op_s",
]

UNITS = {"_s": "s", "_mb": "MB", "yield": "ratio"}


def unit(name: str) -> str:
    return next((u for suffix, u in UNITS.items() if name.endswith(suffix)), "count")


def _noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def merged(groups: dict[str, dict], prefix: str) -> dict:
    """Counters of the span ``prefix`` and every span nested in it."""
    out = new_group()
    for name, g in groups.items():
        if name == prefix or name.startswith(prefix + "/"):
            for k, v in g.items():
                out[k] = out[k] + v
    return out


def _common(tracer: Tracer, groups: dict, op: str, persists: int) -> dict:
    g = merged(groups, op)
    return {
        **function_metrics(g),
        **session_metrics(g, tracer.wall(op)),
        "cache.persists": persists,
        "trace.op_s": tracer.wall(op),
    }


# ---------------------------------------------------------------------------
# code_filter
# ---------------------------------------------------------------------------

CF_PREFIXES = ["operators.properties", "operators.issues", "operators.duplicates",
               "operators.decision"]


def run_code_filter(spark: SparkSession, tracer: Tracer, inputs: Inputs, out: str, p: int) -> dict:
    from cleanvision_spark.operators.properties import with_properties
    from cleanvision_spark.plans.pipeline import attach_issues, quality_filter
    from cleanvision_spark.sources.checkpoint import ROW_ISSUES

    df = read_corpus(spark, inputs.table)
    params = merge_params(None)
    frames = {
        "operators.properties": lambda: with_properties(
            df.withColumn("content", F.coalesce(F.col("content"), F.lit(""))),
            entropy=True, udf_props=True),
        "operators.issues": lambda: attach_issues(df, params, ROW_ISSUES + ["odd_size"]),
        "operators.duplicates": lambda: attach_issues(df, params),
        "operators.decision": lambda: quality_filter(df, params),
    }
    for name in CF_PREFIXES:
        with tracer.span(f"{name}#{p}"):
            _noop(frames[name]())
            release_tracked()
    with tracer.span(f"op#{p}"):
        info = WL.code_filter(spark, inputs.table, f"{out}/qf")
    # the same scoring through the checkpointed CLI flow
    info["checkpoint"] = run_checkpoint(spark, tracer, inputs, f"{out}/ckpt_run", f"checkpoint#{p}")
    info["checks"] = [("code_filter", f"{out}/qf", info),
                      ("checkpoint", f"{out}/ckpt_run", info["checkpoint"])]
    return info


def metrics_code_filter(tracer: Tracer, groups: dict, p: int, info: dict) -> tuple[dict, dict]:
    w = [tracer.wall(f"{n}#{p}") for n in CF_PREFIXES] + [tracer.wall(f"op#{p}")]
    shuffle = [merged(groups, f"{n}#{p}")["shuffle_write_bytes"] for n in CF_PREFIXES]
    ckpt, ckpt_shape = metrics_checkpoint(tracer, groups, f"checkpoint#{p}", info["checkpoint"])
    m = {
        "operators.properties.self_s": w[0],
        "operators.issues.self_s": w[1] - w[0],
        "operators.duplicates.self_s": w[2] - w[1],
        "operators.duplicates.shuffle_mb": (shuffle[2] - shuffle[1]) / 1e6,
        "operators.decision.self_s": w[3] - w[2],
        "plans.pipeline.write_s": w[4] - w[3],
        **ckpt,
        **_common(tracer, groups, f"op#{p}", info["persists"]),
    }
    shape = plan_shape([e["plan"] for e in merged(groups, f"op#{p}")["executions"]])
    shape["checkpoint"] = ckpt_shape
    shape["ok"] = (
        shape["arrow_eval_python"] >= 1
        and "sha256" in shape["exchange_keys"]
        and "_bh" in shape["exchange_keys"]
        and ckpt_shape["ok"]
    )
    return m, shape


# ---------------------------------------------------------------------------
# sources.checkpoint: the run_quality_filter.py flow
# ---------------------------------------------------------------------------


def run_checkpoint(spark: SparkSession, tracer: Tracer, inputs: Inputs, out: str, root: str) -> dict:
    """A fresh ``CheckpointedRun`` and its observed write (span
    ``root``), then a second call on the completed checkpoint."""
    with tracer.span(root):
        with tracer.span("run"):
            result = WL.resumable_run(spark, inputs.table, f"{out}/ckpt")
        with tracer.span("assemble"):
            info = WL.resumable_write(result, f"{out}/data")
    with tracer.span(f"{root}.resume"):
        info["resumed"] = WL.resumable_write(
            WL.resumable_run(spark, inputs.table, f"{out}/ckpt"), f"{out}/resumed")
    info["rowstage_bytes"] = sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(f"{out}/ckpt/rowstage")
        for f in files
    )
    info["table"] = inputs.table
    return info


def metrics_checkpoint(tracer: Tracer, groups: dict, root: str, info: dict) -> tuple[dict, dict]:
    run_plans = [e["plan"] for e in merged(groups, f"{root}/run")["executions"]]
    asm_plans = [e["plan"] for e in merged(groups, f"{root}/assemble")["executions"]]
    m = {
        "sources.checkpoint.row_stage_s": tracer.wall(f"{root}/run"),
        "sources.checkpoint.input_scans": scans_of(run_plans, info["table"]),
        "sources.checkpoint.rowstage_mb": info["rowstage_bytes"] / 1e6,
        "sources.checkpoint.assemble_s": tracer.wall(f"{root}/assemble"),
        "sources.checkpoint.resume_s": tracer.wall(f"{root}.resume"),
    }
    row, asm = plan_shape(run_plans), plan_shape(asm_plans)
    shape = {"row_stage": row, "assemble": asm}
    shape["ok"] = (
        row["arrow_eval_python"] >= 1
        and m["sources.checkpoint.input_scans"] >= WL.BUCKETS
        and "sha256" in asm["exchange_keys"]
        and "_bh" in asm["exchange_keys"]
    )
    return m, shape


# ---------------------------------------------------------------------------
# corpus_build
# ---------------------------------------------------------------------------


def run_corpus_build(spark: SparkSession, tracer: Tracer, inputs: Inputs, out: str, p: int) -> dict:
    from cleanvision_spark.plans.corpus_build import build_corpus

    docs, eval_df = WL.documents(spark, inputs.table)
    for stage in WL.STAGES:
        with tracer.span(f"plans.corpus_build.{stage}#{p}"):
            _noop(build_corpus(docs, **WL.build_kwargs(eval_df, stage)))
            release_tracked()
    with tracer.span(f"op#{p}"):
        info = WL.corpus_build(spark, inputs.table, f"{out}/build")
    # the near-duplicate graph layers, traced on the same corpus
    info["near_dup"] = run_near_dup(spark, tracer, inputs, f"{out}/near_dup", f"near_dup#{p}")
    info["checks"] = [("corpus_build", f"{out}/build", info),
                      ("near_dup", f"{out}/near_dup/components", info["near_dup"])]
    return info


def metrics_corpus_build(tracer: Tracer, groups: dict, p: int, info: dict) -> tuple[dict, dict]:
    w = [tracer.wall(f"plans.corpus_build.{s}#{p}") for s in WL.STAGES]
    m = {
        f"plans.corpus_build.{s}_self_s": w[i] - (w[i - 1] if i else 0.0)
        for i, s in enumerate(WL.STAGES)
    }
    m["plans.corpus_build.write_s"] = tracer.wall(f"op#{p}") - w[-1]
    nd, nd_shape = metrics_near_dup(tracer, groups, f"near_dup#{p}", info["near_dup"])
    m.update(nd)
    m.update(_common(tracer, groups, f"op#{p}", info["persists"]))
    shape = plan_shape([e["plan"] for e in merged(groups, f"op#{p}")["executions"]])
    shape["near_dup"] = nd_shape
    # the build is Catalyst only: no Python UDF, persisted base, shuffles
    shape["ok"] = (
        shape["arrow_eval_python"] == 0
        and shape["in_memory_scans"] >= 1
        and shape["exchanges"] >= 1
        and nd_shape["ok"]
    )
    return m, shape


# ---------------------------------------------------------------------------
# operators.dedup + operators.graph: near-duplicate clusters
# ---------------------------------------------------------------------------


def run_near_dup(spark: SparkSession, tracer: Tracer, inputs: Inputs, out: str, root: str) -> dict:
    """The two public calls timed apart (span ``root``), with the pairs
    written to parquet in between."""
    df = WL.near_dup_input(spark, inputs.table)
    with tracer.span(root):
        with tracer.span("pairs"):
            WL.near_dup_pairs(df).write.mode("overwrite").parquet(f"{out}/pairs")
        with tracer.span("cc"):
            pairs = spark.read.parquet(f"{out}/pairs")
            WL.near_dup_components(df, pairs).write.mode("overwrite").parquet(f"{out}/components")
            persists = release_tracked()
    return {"persists": persists,
            "pairs": pq.read_table(f"{out}/pairs", columns=["id_a"]).num_rows}


# the distinct over the LSH self-join's (id_a, id_b): its final (smaller)
# aggregate outputs the candidate pairs
CANDIDATES = re.compile(r"HashAggregate\(keys=\[id_a#\d+L?, id_b#\d+L?\], functions=\[\]\)")


def metrics_near_dup(tracer: Tracer, groups: dict, root: str, info: dict) -> tuple[dict, dict]:
    cc = merged(groups, f"{root}/cc")
    rounds = sum(1 for e in cc["executions"] if "collectToPython" in e["call"])
    pair_execs = merged(groups, f"{root}/pairs")["executions"]
    candidates = min(
        (n for e in pair_execs for node, n in e["rows"] if CANDIDATES.match(node)), default=0)
    m = {
        "operators.dedup.pairs_s": tracer.wall(f"{root}/pairs"),
        "operators.dedup.candidate_pairs": candidates,
        "operators.dedup.pair_yield": info["pairs"] / max(candidates, 1),
        "operators.graph.cc_s": tracer.wall(f"{root}/cc"),
        "operators.graph.rounds": rounds,
    }
    shape = plan_shape([e["plan"] for e in pair_execs])
    shape["rounds"] = rounds
    shape["ok"] = shape["arrow_eval_python"] >= 1 and rounds >= 2
    return m, shape
