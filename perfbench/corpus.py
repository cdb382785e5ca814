"""Seeded synthetic code corpus for the benchmark, with its oracles.

One generator feeds every workload. From ``(seed, size)`` it builds the
staged table ``(repo, path, commit, lang, content)``:

- clean files in the four synth languages, with synth's mega-repo skew
  (``org0/repo0`` holds about a fifth of the clean rows);
- every planted issue exemplar of ``cleanvision_spark.sources.synth``;
- exact copies of clean files under other repos (``COPY_SHARE``);
- near-duplicate clusters of two kinds: short *rename* clusters, where
  each variant renames one identifier, and long *chains*, sliding
  windows over a block sequence in which only nearby members are
  similar, so connected components needs several rounds to join the
  ends.

Oracles computed here, single-threaded and without Spark:

- ``labels``: synth's independent labeler (keep / sha256_scrubbed per
  key), the reference for the two code workloads;
- ``components``: the planted near-duplicate partition, the reference
  for the near-duplicate clusters. A pure-Python model of the default
  LSH blocking (the package's MinHash band kernel, exact word-set
  jaccard and a union-find) must recover it: about one seed in 60
  plants a chain that banding splits, and ``prepare`` then draws that
  seed's corpus again from a second random stream. So the reference is
  both what the generator intended and what the blocked path can find.

Everything is cached under ``<work>/cache/s<seed>_n<size>/``.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import shutil
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from cleanvision_spark.sources import synth

COPY_SHARE = 0.03  # share of clean files copied verbatim into another repo
STAGED_FILES = 8  # the staged table is split into this many parquet files
JACCARD_THRESHOLD = 0.5  # jaccard_pairs_blocked default
CHAIN_WINDOW = 40  # blocks per chain member
CHAIN_SHIFT = 2  # blocks between consecutive chain members
DRAWS = 4  # random streams tried per seed for a recoverable planted partition
WS_RUN = re.compile(r"[ \t\n\f\r]+")  # functions.text_stats.WS_RUN_RE

# identifiers for the near-duplicate clusters; together with synth's
# 31 words the corpus vocabulary is well over 64 words, so the jaccard
# stage takes its general (word-array) path
EXTRA_WORDS = [
    f"{a}{b}"
    for a in ("ab", "cor", "dal", "fen", "gil", "hol", "ist", "jor")
    for b in ("ra", "ton", "vex", "mir", "lune", "dor", "qua", "sel", "pik", "wen")
]
VOCAB = synth.WORDS + EXTRA_WORDS


def _chain_block(rng: np.random.Generator) -> str:
    w = lambda: VOCAB[int(rng.integers(len(VOCAB)))]
    a, b, c = w(), w(), w()
    return f"def {a}_{b}({c}):\n    return {c} * {int(rng.integers(2, 97))}\n"


def _rows(seed: int, size: int, draw: int) -> tuple[list[dict], dict[str, int]]:
    """Corpus rows plus ``planted``: key string -> planted cluster index."""
    if size < 200:
        raise ValueError("size must be at least 200")
    rng = np.random.default_rng(seed if draw == 0 else [seed, draw])
    rows: list[dict] = []
    planted: dict[str, int] = {}
    n_cluster = 0

    def add(repo: str, path: str, lang: str, content: str) -> str:
        commit = hashlib.sha1(f"{seed}:{repo}:{path}".encode()).hexdigest()
        rows.append(
            {"repo": repo, "path": path, "commit": commit, "lang": lang, "content": content}
        )
        return f"{repo}|{path}|{commit}"

    for tag, lang, content, flags in synth._planted(rng):
        key = add("org9/planted", f"src/{tag}.{synth.EXT[lang]}", lang, content)
        for kind in ("exact_duplicates", "near_duplicates"):
            if flags.get(kind):  # synth plants one pair of each
                planted[key] = -1 - ("exact_duplicates", "near_duplicates").index(kind)

    # rename clusters: one identifier renamed per variant
    for r in range(max(3, size // 100)):
        base = synth._clean_content(rng, "python")
        for v in range(int(rng.integers(2, 5))):
            name = f"{VOCAB[int(rng.integers(len(VOCAB)))].upper()}_{v}"
            tail = f"\n{name} = {r + 3}\nresult = {name} * 2\n"
            key = add(f"org8/near{r}", f"src/variant_{v}.py", "python", base + tail)
            planted[key] = n_cluster
        n_cluster += 1

    # chains: member j is blocks[j * CHAIN_SHIFT :][:CHAIN_WINDOW]; only
    # members a few steps apart share enough shingles to pair up
    for c in range(max(2, size // 400)):
        length = int(rng.integers(24, 41))
        blocks = [_chain_block(rng) for _ in range(CHAIN_WINDOW + CHAIN_SHIFT * length)]
        for j in range(length):
            body = "".join(blocks[j * CHAIN_SHIFT :][:CHAIN_WINDOW])
            key = add(f"org7/chain{c}", f"src/part_{j}.py", "python", "import math\n\n" + body)
            planted[key] = n_cluster
        n_cluster += 1

    n_clean = max(1, size - len(rows) - int(size * COPY_SHARE))
    clean_start = len(rows)
    for i in range(n_clean):
        lang = synth.LANGS[i % len(synth.LANGS)]
        repo = "org0/repo0" if i % 5 == 0 else f"org{1 + i % 7}/repo{i % 23}"
        add(repo, f"src/clean_{i}.{synth.EXT[lang]}", lang, synth._clean_content(rng, lang))

    # exact copies of distinct clean files
    picks = rng.choice(n_clean, size=size - len(rows), replace=False)
    for k, i in enumerate(sorted(int(p) for p in picks)):
        src = rows[clean_start + i]
        src_key = f"{src['repo']}|{src['path']}|{src['commit']}"
        planted.setdefault(src_key, n_cluster)
        key = add(f"fork{k % 11}/mirror", src["path"], src["lang"], src["content"])
        planted[key] = planted[src_key]
        n_cluster += 1
    return rows, planted


def generate(seed: int, size: int, draw: int = 0) -> tuple[pd.DataFrame, dict[str, int]]:
    """``(corpus, planted)``: the staged table's rows in a seeded order,
    and the planted clustering (key -> cluster; singletons omitted).
    ``draw`` selects another random stream for the same seed."""
    rows, planted = _rows(seed, size, draw)
    order = np.random.default_rng(seed + 1).permutation(len(rows))
    return pd.DataFrame([rows[i] for i in order]), planted


def key_strings(df: pd.DataFrame) -> pd.Series:
    return df["repo"] + "|" + df["path"] + "|" + df["commit"]


# ---------------------------------------------------------------------------
# near-duplicate oracle
# ---------------------------------------------------------------------------


def word_set(text: str) -> frozenset[str]:
    """``array_distinct(split(trim(text), WS_RUN_RE))``: Spark's trim
    strips spaces only, and split keeps empty leading/trailing tokens."""
    return frozenset(WS_RUN.split(text.strip(" ")))


def spark_round6(x: float) -> float:
    return float(Decimal(repr(x)).quantize(Decimal("1e-6"), rounding=ROUND_HALF_UP))


def near_dup_reference(contents: list[str]) -> tuple[list[int], int, int]:
    """(component root per row, candidate pairs, kept pairs) of
    ``jaccard_pairs_blocked`` (default LSH blocking) followed by
    connected components, computed in pure Python."""
    from cleanvision_spark.functions.hashing import minhash_bands

    buckets: dict[int, list[int]] = {}
    for i, text in enumerate(contents):
        for band in minhash_bands(text):
            buckets.setdefault(band, []).append(i)
    cand: set[tuple[int, int]] = set()
    for members in buckets.values():
        for x in range(len(members)):
            for y in range(x + 1, len(members)):
                a, b = members[x], members[y]
                if a != b:
                    cand.add((min(a, b), max(a, b)))

    parent = list(range(len(contents)))

    def find(i: int) -> int:
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i

    words = {}
    kept = 0
    for a, b in cand:
        wa = words.setdefault(a, word_set(contents[a]))
        wb = words.setdefault(b, word_set(contents[b]))
        inter = len(wa & wb)
        if spark_round6(inter / (len(wa) + len(wb) - inter)) >= JACCARD_THRESHOLD:
            kept += 1
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
    return [find(i) for i in range(len(contents))], len(cand), kept


def partition(keys: list[str], labels: list) -> frozenset[frozenset[str]]:
    """Set of non-singleton groups of ``keys`` sharing a label."""
    groups: dict = {}
    for k, lab in zip(keys, labels):
        groups.setdefault(lab, set()).add(k)
    return frozenset(frozenset(g) for g in groups.values() if len(g) > 1)


# ---------------------------------------------------------------------------
# cached inputs
# ---------------------------------------------------------------------------


class Inputs:
    """Paths and oracles of one ``(seed, size)`` corpus."""

    def __init__(self, root: str):
        self.root = root
        self.table = os.path.join(root, "corpus")
        with open(os.path.join(root, "meta.json")) as f:
            self.meta = json.load(f)

    def corpus(self) -> pd.DataFrame:
        return pq.read_table(self.table).to_pandas()

    def labels(self) -> pd.DataFrame:
        return pd.read_parquet(os.path.join(self.root, "labels.parquet"))

    def components(self) -> frozenset[frozenset[str]]:
        with open(os.path.join(self.root, "components.json")) as f:
            return frozenset(frozenset(g) for g in json.load(f))


def _write_staged(df: pd.DataFrame, path: str, n_files: int) -> None:
    os.makedirs(path)
    for f in range(n_files):
        part = df.iloc[f::n_files].reset_index(drop=True)
        pq.write_table(
            pa.Table.from_pandas(part, preserve_index=False),
            os.path.join(path, f"part-{f:05d}.parquet"),
        )


def prepare(work: str, seed: int, size: int, labels: bool) -> Inputs:
    """Generate (or reuse) the staged table and its oracles. Labels cost
    about 1.3 ms a file and only ``code_filter`` needs them, so they are
    computed on first request. Raises if no draw of ``DRAWS`` plants a
    near-duplicate partition that LSH blocking recovers."""
    root = os.path.join(work, "cache", f"s{seed}_n{size}")
    if not os.path.exists(os.path.join(root, "meta.json")):
        tmp = root + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        for draw in range(DRAWS):
            corpus, planted = generate(seed, size, draw)
            keys = key_strings(corpus).tolist()
            roots, n_cand, n_kept = near_dup_reference(corpus["content"].tolist())
            comps = partition(list(planted), list(planted.values()))
            if partition(keys, roots) == comps:
                break
        else:
            raise RuntimeError(
                f"seed {seed}, size {size}: LSH blocking does not recover the "
                "planted near-duplicate clusters"
            )
        _write_staged(corpus, os.path.join(tmp, "corpus"), STAGED_FILES)
        with open(os.path.join(tmp, "components.json"), "w") as f:
            json.dump(sorted(sorted(g) for g in comps), f)
        meta = {
            "seed": seed,
            "size": size,
            "draw": draw,
            "files": len(corpus),
            "content_mb": float(corpus["content"].str.len().sum()) / 1e6,
            "langs": corpus["lang"].value_counts().sort_index().to_dict(),
            "vocabulary": len(set().union(*map(word_set, corpus["content"]))),
            "oracle_candidate_pairs": n_cand,
            "oracle_kept_pairs": n_kept,
            "near_dup_groups": len(comps),
        }
        with open(os.path.join(tmp, "meta.json"), "w") as f:
            json.dump(meta, f, indent=1, sort_keys=True)
        os.rename(tmp, root)
    if labels and not os.path.exists(os.path.join(root, "labels.parquet")):
        corpus = pq.read_table(os.path.join(root, "corpus")).to_pandas()
        lab = synth._compute_labels(corpus, [{}] * len(corpus))
        lab = lab[["repo", "path", "commit", "keep", "sha256_scrubbed"]]
        lab.to_parquet(os.path.join(root, "labels.parquet.tmp"), index=False)
        os.rename(
            os.path.join(root, "labels.parquet.tmp"), os.path.join(root, "labels.parquet")
        )
    return Inputs(root)
