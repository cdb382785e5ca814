"""Output checks, run after the timed loop. Each takes pandas frames
only (no Spark), so the self-tests can corrupt an output and see it
rejected. Each returns ``(ok, info)``."""

from __future__ import annotations

import hashlib
import zlib

import pandas as pd

from perfbench.corpus import WS_RUN, key_strings, partition

KEYS = ["repo", "path", "commit"]

# corpus_build parameters (checked here, applied in workloads.py)
MIN_QUALITY = 0.5
CAP = ("source", 60)
SPLITS = {"train": 0.9, "val": 0.05, "test": 0.05}
SEQ_LEN = 2048
DECONTAMINATE_N = 13
EVAL_MOD = 50  # eval slice: crc32(repo|path|commit) % EVAL_MOD == 0


def drop_f1(got_keep: pd.Series, exp_keep: pd.Series) -> float:
    """keep/drop F1 with ``drop`` as the positive class, as in the
    golden test."""
    got, exp = got_keep.astype(bool), exp_keep.astype(bool)
    tp = int((~got & ~exp).sum())
    fp = int((~got & exp).sum())
    fn = int((got & ~exp).sum())
    return 2 * tp / max(2 * tp + fp + fn, 1)


def check_code_filter(out: pd.DataFrame, labels: pd.DataFrame) -> tuple[bool, dict]:
    """``out`` has the key columns, ``keep`` and ``sha256_scrubbed``;
    every key must appear once, with synth's keep and scrubbed hash."""
    m = labels.merge(out[KEYS + ["keep", "sha256_scrubbed"]], on=KEYS, how="left",
                     suffixes=("_exp", ""), indicator=True)
    present = m["_merge"] == "both"
    f1 = drop_f1(m["keep"].where(present, True), m["keep_exp"])
    sha_match = float((m["sha256_scrubbed"] == m["sha256_scrubbed_exp"]).mean())
    ok = (
        len(out) == len(labels)
        and bool(present.all())
        and not out.duplicated(KEYS).any()
        and f1 == 1.0
        and sha_match == 1.0
    )
    return ok, {"keep_f1": f1, "sha_match": sha_match, "rows": len(out),
                "kept": int(out["keep"].sum())}


# ---------------------------------------------------------------------------
# corpus_build
# ---------------------------------------------------------------------------


def eval_mask(corpus: pd.DataFrame) -> pd.Series:
    """The held-out eval slice; ``pmod(crc32(concat_ws('|', keys)), 50)
    == 0`` on the Spark side."""
    return key_strings(corpus).map(lambda k: zlib.crc32(k.encode()) % EVAL_MOD == 0)


def _words(text: str) -> list[str]:
    """``textqc._words_array``: space-trim, then split on whitespace
    runs; an empty trimmed text has no words."""
    t = text.strip(" ")
    return WS_RUN.split(t) if t else []


def _grams(words: list[str], n: int) -> set[str]:
    return {" ".join(words[i : i + n]) for i in range(len(words) - n + 1)}


def normalized(text: str) -> str:
    """``dedup.normalized_text``."""
    return WS_RUN.sub(" ", text).strip(" ").lower()


def kept_digest(out: pd.DataFrame) -> str:
    rows = sorted(zip(out["doc_id"].tolist(), out["split"].tolist()))
    return hashlib.sha256(repr(rows).encode()).hexdigest()


def check_corpus_build(
    out: pd.DataFrame, corpus: pd.DataFrame, digest: str | None
) -> tuple[bool, dict]:
    """Properties of a ``build_corpus`` output, in pandas:

    - every quality score is at or above the floor;
    - no two kept documents share normalized text;
    - no kept document shares a word n-gram with the eval slice;
    - every source is within its cap: ``cap_per_key`` is a hash quota
      (binomial around the cap), so a source may exceed the cap by
      random variation, bounded here at six standard deviations;
    - packing: train rows in ``(doc_id, n_tokens)`` order start at the
      exclusive running token sum, so every sequence holds at most
      ``SEQ_LEN`` tokens, and other splits are not packed;
    - the kept-set digest equals ``digest`` when one is given.
    """
    problems = []
    if out.empty or (out["quality_score"] < MIN_QUALITY).any():
        problems.append("quality floor")
    if out["doc_id"].duplicated().any():
        problems.append("duplicate doc_id")
    if out["text"].map(normalized).duplicated().any():
        problems.append("normalized duplicates")

    eval_grams: set[str] = set()
    for text in corpus.loc[eval_mask(corpus), "content"]:
        eval_grams |= _grams(_words(text), DECONTAMINATE_N)
    if any(_grams(_words(t), DECONTAMINATE_N) & eval_grams for t in out["text"]):
        problems.append("contaminated")

    key, cap = CAP
    per_source = out[key].value_counts()
    if (per_source > cap + 6 * cap**0.5).any():
        problems.append("cap")

    if set(out["split"]) - set(SPLITS):
        problems.append("split names")
    train = out[out["split"] == next(iter(SPLITS))].sort_values(["doc_id", "n_tokens"])
    n_tok = train["text"].map(lambda t: len(_words(t)))
    start = n_tok.cumsum() - n_tok
    if not (
        (train["n_tokens"] == n_tok).all()
        and (train["seq_id"] == start // SEQ_LEN).all()
        and (train["seq_offset"] == start % SEQ_LEN).all()
        and out.loc[out["split"] != next(iter(SPLITS)), "seq_id"].isna().all()
    ):
        problems.append("packing")

    got = kept_digest(out)
    if digest is not None and got != digest:
        problems.append("digest")
    return not problems, {
        "kept": len(out),
        "sources": int(per_source.size),
        "max_per_source": int(per_source.max()) if len(per_source) else 0,
        "sequences": int(train["seq_id"].nunique()),
        "digest": got,
        "problems": problems,
    }


# ---------------------------------------------------------------------------
# near-duplicate clusters
# ---------------------------------------------------------------------------


def check_components(
    out: pd.DataFrame, id_keys: pd.DataFrame, expected: frozenset
) -> tuple[bool, dict]:
    """``out`` is ``(id, component)``; ``id_keys`` maps each id to its
    key string (``key``). The partition must equal ``expected``."""
    m = id_keys.merge(out, on="id", how="left")
    ok_rows = len(out) == len(id_keys) and not m["component"].isna().any()
    got = partition(m["key"].tolist(), m["component"].tolist())
    return ok_rows and got == expected, {
        "groups": len(got),
        "expected_groups": len(expected),
        "rows": len(out),
    }

