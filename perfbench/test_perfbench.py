"""Self-tests of the benchmark harness (no Spark session needed):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys
import time

import pandas as pd
import pytest

from perfbench import checks, corpus, run, trace

SIZE = 240


@pytest.fixture(scope="module")
def inputs(tmp_path_factory):
    return corpus.prepare(str(tmp_path_factory.mktemp("work")), 7, SIZE, labels=True)


# ---------------------------------------------------------------------------
# generator
# ---------------------------------------------------------------------------


def _staged_bytes(work: str, seed: int) -> bytes:
    root = corpus.prepare(work, seed, SIZE, labels=False).table
    h = hashlib.sha256()
    for name in sorted(os.listdir(root)):
        with open(os.path.join(root, name), "rb") as f:
            h.update(f.read())
    return h.digest()


def test_generator_is_byte_identical_per_seed_and_differs_across_seeds(tmp_path):
    a = _staged_bytes(str(tmp_path / "a"), 3)
    assert a == _staged_bytes(str(tmp_path / "b"), 3)
    assert a != _staged_bytes(str(tmp_path / "c"), 4)


def test_corpus_shape(inputs):
    meta = inputs.meta
    assert meta["files"] == SIZE
    assert set(meta["langs"]) == {"python", "java", "javascript", "go"}
    assert meta["vocabulary"] > 64
    assert meta["near_dup_groups"] == len(inputs.components())
    df = inputs.corpus()
    assert df["content"].duplicated().sum() >= int(SIZE * corpus.COPY_SHARE)
    assert (df["repo"] == "org9/planted").sum() >= 16


def test_prepare_refuses_a_corpus_lsh_cannot_cluster(tmp_path, monkeypatch):
    # a blocking that pairs nothing leaves every planted cluster split
    monkeypatch.setattr(corpus, "near_dup_reference",
                        lambda contents: (list(range(len(contents))), 0, 0))
    with pytest.raises(RuntimeError, match="planted near-duplicate"):
        corpus.prepare(str(tmp_path), 5, SIZE, labels=False)


def test_prepare_draws_again_when_lsh_splits_a_planted_cluster(tmp_path, monkeypatch):
    real, calls = corpus.near_dup_reference, []

    def first_draw_split(contents):
        calls.append(1)
        roots, n_cand, n_kept = real(contents)
        return (list(range(len(contents))) if len(calls) == 1 else roots), n_cand, n_kept

    monkeypatch.setattr(corpus, "near_dup_reference", first_draw_split)
    inputs = corpus.prepare(str(tmp_path), 5, SIZE, labels=False)
    assert inputs.meta["draw"] == 1 and len(calls) == 2
    staged = set(corpus.key_strings(inputs.corpus()))
    assert staged == set(corpus.key_strings(corpus.generate(5, SIZE, 1)[0]))
    assert staged != set(corpus.key_strings(corpus.generate(5, SIZE, 0)[0]))


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------

def _plan_node(name: str, simple: str, rows_acc: int | None, *children) -> dict:
    metrics = [] if rows_acc is None else [
        {"name": "number of output rows", "accumulatorId": rows_acc, "metricType": "sum"}]
    return {"nodeName": name, "simpleString": simple, "metrics": metrics,
            "children": list(children)}


# the candidate distinct of jaccard_pairs_blocked: partial and final aggregate
_AGG = "HashAggregate(keys=[id_a#44L, id_b#45L], functions=[])"
FINAL_PLAN = _plan_node(
    "AdaptiveSparkPlan", "AdaptiveSparkPlan isFinalPlan=true", None,
    _plan_node("HashAggregate", _AGG, 90,
               _plan_node("Exchange", "Exchange hashpartitioning(id_a#44L, id_b#45L, 64)", None,
                          _plan_node("HashAggregate", _AGG, 91,
                                     _plan_node("BroadcastHashJoin", "BroadcastHashJoin", 92)))))

EVENTS = [
    {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
     "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "op#0"}},
    {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 1500,
     "Stage IDs": [2], "Properties": {"spark.jobGroup.id": "op#0/run"}},
    {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 1600,
     "Stage IDs": [3], "Properties": {}},
    {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {
        "JVM GC Time": 7, "Disk Bytes Spilled": 2_000_000,
        "Shuffle Write Metrics": {"Shuffle Bytes Written": 3_000_000}}},
    {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Metrics": {"JVM GC Time": 3}},
    {"Event": "SparkListenerTaskEnd", "Stage ID": 3, "Task Metrics": {"JVM GC Time": 99}},
    {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 1, "Accumulables": [
        {"ID": 1, "Name": "time to run Python workers", "Value": 1500},
        {"ID": 2, "Name": "data sent to Python workers", "Value": 4_000_000},
        {"ID": 3, "Name": "data returned from Python workers", "Value": 1_000_000},
        {"ID": 91, "Name": "number of output rows", "Value": "210"},
        {"ID": 92, "Name": "number of output rows", "Value": "1400"}]}},
    {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 2, "Accumulables": [
        {"ID": 90, "Name": "number of output rows", "Value": "198"}]}},
    {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1800},
    {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 2200},
    {"Event": "SparkListenerJobEnd", "Job ID": 2, "Completion Time": 2300},
    {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
     "jobGroupId": "op#0/run",
     "details": "org.apache.spark.sql.classic.Dataset.collectToPython(Dataset.scala:1)\nmore",
     "executionId": 0,
     "sparkPlanInfo": _plan_node("AdaptiveSparkPlan", "AdaptiveSparkPlan isFinalPlan=false", None),
     "physicalPlanDescription": (
         "== Physical Plan ==\nAdaptiveSparkPlan (4)\n+- Exchange (3)\n"
         "   +- ArrowEvalPython (2)\n      +- Scan parquet  (1)\n\n\n"
         "(1) Scan parquet \nLocation: InMemoryFileIndex [file:/data/corpus]\n\n"
         "(3) Exchange\nArguments: hashpartitioning(sha256#12, 64), ENSURE_REQUIREMENTS\n")},
    {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate",
     "executionId": 0, "physicalPlanDescription": "", "sparkPlanInfo": FINAL_PLAN},
]


def test_event_log_parser_on_fixed_log(tmp_path):
    log = tmp_path / "app-1"
    log.write_text("\n".join(json.dumps(e) for e in EVENTS) + "\n")
    groups = trace.parse_events(trace.read_events(str(tmp_path)))
    assert set(groups) == {"op#0", "op#0/run"}  # ungrouped job 2 is dropped
    op = groups["op#0"]
    assert (op["jobs"], op["tasks"], op["gc_ms"]) == (1, 2, 10)
    assert (op["shuffle_write_bytes"], op["spill_bytes"]) == (3_000_000, 2_000_000)
    assert (op["python_ms"], op["python_in_bytes"], op["python_out_bytes"]) == (
        1500, 4_000_000, 1_000_000)
    assert op["job_spans"] == [[1000, 1800]]
    run = groups["op#0/run"]
    assert run["executions"][0]["call"].endswith("collectToPython(Dataset.scala:1)")
    # output rows per node of the final adaptive plan
    assert run["executions"][0]["rows"] == [[_AGG, 198], [_AGG, 210], ["BroadcastHashJoin", 1400]]

    from perfbench.layers import merged

    both = merged(groups, "op#0")
    assert both["jobs"] == 2 and trace.union_ms(both["job_spans"]) == 1200
    m = trace.session_metrics(both, wall_s=1.5)
    assert m["session.driver_gap_s"] == pytest.approx(0.3)
    assert m["session.shuffle_write_mb"] == 3.0
    assert trace.function_metrics(both)["functions.python_s"] == 1.5

    plans = [e["plan"] for e in run["executions"]]
    shape = trace.plan_shape(plans)
    assert shape["arrow_eval_python"] == 1 and shape["exchanges"] == 1
    assert shape["exchange_keys"] == ["sha256"]
    assert trace.scans_of(plans, "/data/corpus") == 1
    assert trace.scans_of(plans, "/data/corp") == 0


def test_candidate_pairs_come_from_the_final_distinct():
    from perfbench.layers import CANDIDATES

    groups = trace.parse_events(EVENTS)
    rows = [n for e in groups["op#0/run"]["executions"] for node, n in e["rows"]
            if CANDIDATES.match(node)]
    assert min(rows) == 198


def test_union_ms_overlaps():
    assert trace.union_ms([[0, 10], [5, 20], [30, 40]]) == 30
    assert trace.union_ms([]) == 0


# ---------------------------------------------------------------------------
# output checks reject corrupted outputs
# ---------------------------------------------------------------------------


def test_code_filter_check_rejects_flipped_keep_and_bad_hash(inputs):
    labels = inputs.labels()
    ok, info = checks.check_code_filter(labels.copy(), labels)
    assert ok and info["keep_f1"] == 1.0

    flipped = labels.copy()
    flipped.loc[flipped.index[0], "keep"] = not flipped.loc[flipped.index[0], "keep"]
    assert not checks.check_code_filter(flipped, labels)[0]

    bad_hash = labels.copy()
    bad_hash.loc[bad_hash.index[3], "sha256_scrubbed"] = "0" * 64
    ok, info = checks.check_code_filter(bad_hash, labels)
    assert not ok and info["sha_match"] < 1.0

    assert not checks.check_code_filter(labels.iloc[1:], labels)[0]
    assert not checks.check_code_filter(pd.concat([labels, labels.iloc[:1]]), labels)[0]


def _valid_build(df: pd.DataFrame) -> pd.DataFrame:
    """A build output that satisfies every property, made in pandas."""
    eval_grams = set()
    for text in df.loc[checks.eval_mask(df), "content"]:
        eval_grams |= checks._grams(checks._words(text), checks.DECONTAMINATE_N)
    keep = df[~df["content"].map(
        lambda t: bool(checks._grams(checks._words(t), checks.DECONTAMINATE_N) & eval_grams))]
    keep = keep[~keep["content"].map(checks.normalized).duplicated()]
    keep = keep.groupby("repo").head(checks.CAP[1])
    out = pd.DataFrame({
        "doc_id": range(len(keep)), "text": keep["content"].to_numpy(),
        "source": keep["repo"].to_numpy(), "quality_score": 1.0,
        "split": ["val" if i % 10 == 0 else "train" for i in range(len(keep))],
    })
    train = out["split"] == "train"
    n_tok = out.loc[train, "text"].map(lambda t: len(checks._words(t)))
    start = n_tok.cumsum() - n_tok
    out["n_tokens"] = None
    out.loc[train, "n_tokens"] = n_tok
    out["seq_id"] = (start // checks.SEQ_LEN).reindex(out.index)
    out["seq_offset"] = (start % checks.SEQ_LEN).reindex(out.index)
    return out


def test_corpus_build_check_rejects_each_broken_property(inputs):
    df = inputs.corpus()
    good = _valid_build(df)
    ok, info = checks.check_corpus_build(good, df, None)
    assert ok, info["problems"]
    assert checks.check_corpus_build(good, df, info["digest"])[0]

    def broken(mutate) -> list[str]:
        bad = good.copy()
        out = mutate(bad)
        bad = bad if out is None else out
        return checks.check_corpus_build(bad, df, info["digest"])[1]["problems"]

    dup = good.iloc[[1]].assign(doc_id=10**9, text=good.iloc[1]["text"].upper())
    assert "normalized duplicates" in broken(lambda b: pd.concat([b, dup]))
    eval_text = df.loc[checks.eval_mask(df), "content"].iloc[0]
    assert "contaminated" in broken(
        lambda b: b.assign(text=[eval_text] + b["text"].tolist()[1:]))
    assert "cap" in broken(lambda b: b.assign(source="one/source"))
    assert "quality floor" in broken(
        lambda b: b.assign(quality_score=[0.0] + [1.0] * (len(b) - 1)))

    def shift_offset(b):
        i = b.index[b["split"] == "train"][2]
        b.loc[i, "seq_offset"] += 1

    assert "packing" in broken(shift_offset)
    assert "digest" in broken(lambda b: b.iloc[1:])


def test_component_check_rejects_merged_or_split_components(inputs):
    df = inputs.corpus()
    keys = corpus.key_strings(df)
    id_keys = pd.DataFrame({"id": range(len(df)), "key": keys})
    expected = inputs.components()
    groups = sorted(expected, key=lambda g: (-len(g), min(g)))
    group_of = {k: g for g, members in enumerate(groups) for k in members}
    # every clustered key gets its group, every other key a singleton
    good = pd.DataFrame({"id": range(len(df)),
                         "component": [group_of.get(k, len(groups) + i) for i, k in enumerate(keys)]})
    assert checks.check_components(good, id_keys, expected)[0]

    merged = good.assign(component=good["component"].replace(1, 0))
    assert not checks.check_components(merged, id_keys, expected)[0]

    index = {k: i for i, k in enumerate(keys)}
    split = good.copy()
    split.loc[index[max(groups[0])], "component"] = -1
    assert not checks.check_components(split, id_keys, expected)[0]

    assert not checks.check_components(good.iloc[1:], id_keys, expected)[0]


# ---------------------------------------------------------------------------
# /proc accounting
# ---------------------------------------------------------------------------


def test_cpu_seconds_counts_descendants():
    before = sum(run.cpu_seconds())
    busy = ("import time\nt = time.process_time()\n"
            "while time.process_time() - t < 0.3: pass\ntime.sleep(30)")
    child = subprocess.Popen([sys.executable, "-c", busy])
    try:
        time.sleep(1.0)
        assert child.pid in run.descendants()
        assert sum(run.cpu_seconds()) - before >= 0.25
    finally:
        child.kill()
        child.wait()
