"""Seeded input generators for the benchmark workloads.

The seed is the only knob: every table below is a pure function of it (and
of the size constants in ``workloads.Sizes``), so the same seed gives the
same rows on any machine and a different seed gives different ones.

* ``write_pages_corpus`` — the crawl ``pages`` table of ``extract_batch``,
  produced by the program's own ``sources.pages.synth_pages`` (85% HTML with
  boilerplate chrome, 15% PDFs of up to 14 pages across the 11 encoding axes,
  one hot host holding ~30% of urls).
* ``append_plan`` / ``write_increments`` — ``append_resume``'s history runs
  and increments: each increment holds fresh urls plus a seeded slice of
  urls committed earlier (replays).
* ``near_dup_tables`` — ``near_dup_analytics``' ``documents`` and
  ``embeddings`` tables in the layouts ``__spark_entry__.queries()`` read.
"""

from __future__ import annotations

import itertools
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Seed reserved for confirming a claimed gain on inputs that no tuning run
# has seen.  Never use it while developing a change.
HELD_OUT_SEED = 9173

# --------------------------------------------------------------------------
# pages corpora (extract_batch, append_resume)
# --------------------------------------------------------------------------


# A crawl corpus arrives as many files; one file would be one Spark task
# and would serialize every pass that does not repartition first.
N_FILES = 4


def synth_pages_df(spark, n_docs: int, seed: int):
    """The ``profile="default"`` pages corpus for doc ids [0, n)."""
    from qwen_ocr_spark.sources.pages import synth_pages
    return synth_pages(spark, n_docs, seed=seed, profile="default",
                       partitions=N_FILES)


def write_pages_corpus(spark, path: str, n_docs: int, seed: int) -> None:
    """``sources.pages.write_pages(profile="default")``, ``N_FILES`` files."""
    from qwen_ocr_spark.sources.pages import write_pages
    write_pages(spark, path, n_docs, seed=seed, partitions=N_FILES,
                profile="default")


@dataclass(frozen=True)
class AppendPlan:
    """Doc ids of the committed history and of each increment."""
    history_ids: tuple[int, ...]
    # increments[i] = (new doc ids, replayed doc ids)
    increments: tuple[tuple[tuple[int, ...], tuple[int, ...]], ...]


def append_plan(seed: int, history_docs: int, n_increments: int,
                new_per_increment: int, replays_per_increment: int) -> AppendPlan:
    """Increment i carries ``new_per_increment`` never-seen doc ids plus
    ``replays_per_increment`` ids drawn (seeded) from everything committed
    before it: the history and the new ids of increments 0..i-1."""
    rng = np.random.default_rng([seed, 1])
    history = tuple(range(history_docs))
    incs = []
    next_id = history_docs
    for _ in range(n_increments):
        new = tuple(range(next_id, next_id + new_per_increment))
        replay = tuple(int(x) for x in sorted(
            rng.choice(next_id, size=replays_per_increment, replace=False)))
        incs.append((new, replay))
        next_id += new_per_increment
    return AppendPlan(history, tuple(incs))


def write_increments(spark, path: str, groups, seed: int) -> None:
    """Pages for groups of doc ids as one table partitioned by ``inc``; the
    pages of ``groups[i]`` are the directory ``path/inc=i``."""
    import pandas as pd

    rows = [(i, int(d)) for i, ids in enumerate(groups) for d in ids]
    ids = pd.DataFrame(rows, columns=["inc", "doc_id"])
    (spark.createDataFrame(ids).repartition(N_FILES)
     .mapInPandas(_IncrementPages(seed), schema="inc int, " + _pages_schema())
     .write.mode("overwrite").partitionBy("inc").parquet(path))


def _pages_schema() -> str:
    from qwen_ocr_spark.sources.pages import PAGES_SCHEMA
    return PAGES_SCHEMA


class _IncrementPages:
    """mapInPandas body: (inc, doc_id) -> (inc, pages row) via gen_page."""

    def __init__(self, seed: int):
        self.seed = seed

    def __call__(self, batches):
        import pandas as pd

        from qwen_ocr_spark.sources.pages import gen_page
        for b in batches:
            rows = [(int(i),) + gen_page(self.seed, int(d), "default")
                    for i, d in zip(b["inc"], b["doc_id"])]
            yield pd.DataFrame(rows, columns=["inc", "url", "warc_ts", "html",
                                              "text", "lang"])


# --------------------------------------------------------------------------
# near-dup corpus (near_dup_analytics)
# --------------------------------------------------------------------------

# Top ranks are real function words so hot 3-word shingles occur naturally;
# the tail is pseudo-words built from syllables (a few thousand types).
_FUNCTION_WORDS = (
    "the of and to a in is that for it as was with be by on not he this are "
    "or his from at which but have an they you were their one all we can her "
    "has there been if more when will would who so no"
).split()
_ONSETS = ["b", "c", "d", "f", "g", "k", "l", "m", "n", "p", "r", "s", "t",
           "v", "br", "st", "tr", "pl"]
_NUCLEI = ["a", "e", "i", "o", "u", "ai", "ou"]
_CODAS = ["", "n", "r", "s", "t", "l"]
VOCAB_SIZE = 4000
ZIPF_S = 0.9
# boilerplate footer appended to a share of pages: its shingles sit in far
# more than MAX_SHINGLE_DF documents, the stop-shingle case the cap exists for
BOILERPLATE = "all rights reserved terms of use privacy policy contact us"
BOILERPLATE_SHARE = 0.7
LANGS = ["en"] * 6 + ["de", "fr", "es", "zh"]
EMB_DIMS = 64


def vocabulary() -> list[str]:
    syll = ["".join(p) for p in itertools.product(_ONSETS, _NUCLEI, _CODAS)]
    words = list(_FUNCTION_WORDS)
    seen = set(words)
    for a, b in itertools.product(syll, syll):
        if len(words) == VOCAB_SIZE:
            break
        w = a + b
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


def _cluster_sizes(rng: np.random.Generator, total: int,
                   max_size: int) -> list[int]:
    """Skewed near-dup cluster sizes (Zipf a=1.8, capped) summing to exactly
    ``total`` copies, so every seed yields the same corpus size."""
    sizes: list[int] = []
    while sum(sizes) < total:
        sizes.append(min(int(rng.zipf(1.8)), max_size, total - sum(sizes)))
    return sizes


def near_dup_tables(seed: int, n_base: int, dup_share: float = 0.4,
                    max_cluster: int = 16) -> tuple[pa.Table, pa.Table]:
    """(documents, embeddings) for ``seed``.

    ``documents(doc_id, text, lang, source, n_chars)``: ``n_base`` originals
    of 40-120 Zipf-drawn words, then ``dup_share * n_base`` copies in
    clusters of skewed size (up to ``max_cluster``) around distinct
    originals; each copy is exact or has 1-3 word edits.
    ``embeddings(vec_id, embedding float[64], label)``: one unit-norm
    Gaussian vector per document, with near-copies (cosine ~0.99) for the
    same clusters."""
    rng = np.random.default_rng([seed, 2])
    vocab = np.array(vocabulary())
    ranks = np.arange(1, len(vocab) + 1, dtype=np.float64)
    p = ranks ** -ZIPF_S
    p /= p.sum()

    texts: list[str] = []
    for _ in range(n_base):
        n = int(rng.integers(40, 121))
        words = vocab[rng.choice(len(vocab), size=n, p=p)]
        text = " ".join(words)
        if rng.random() < BOILERPLATE_SHARE:
            text = text + " " + BOILERPLATE
        texts.append(text)

    base_vecs = rng.standard_normal((n_base, EMB_DIMS))
    vecs = [v for v in base_vecs]
    labels = list(range(n_base))

    sizes = _cluster_sizes(rng, int(n_base * dup_share), max_cluster)
    seeds = rng.choice(n_base, size=len(sizes), replace=False)
    for src, size in zip(seeds, sizes):
        toks = texts[src].split(" ")
        for _ in range(int(size)):
            if rng.random() < 0.5:
                texts.append(texts[src])
            else:
                t = list(toks)
                for _ in range(int(rng.integers(1, 4))):
                    t[int(rng.integers(0, len(t)))] = str(
                        vocab[int(rng.integers(0, len(vocab)))])
                texts.append(" ".join(t))
            vecs.append(base_vecs[src] + 0.05 * rng.standard_normal(EMB_DIMS))
            labels.append(int(src))

    n = len(texts)
    langs = [LANGS[int(i)] for i in rng.integers(0, len(LANGS), size=n)]
    mat = np.stack(vecs)
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    documents = pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array([f"src{i % 7}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    embeddings = pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(mat.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return documents, embeddings


def write_near_dup_tables(sf_dir: str, seed: int, n_base: int) -> int:
    """Write ``documents.parquet`` and ``embeddings.parquet`` under
    ``sf_dir``, each a directory of ``N_FILES`` parquet files split by row
    range; returns the document count."""
    import os
    documents, embeddings = near_dup_tables(seed, n_base)
    for name, table in (("documents", documents), ("embeddings", embeddings)):
        d = os.path.join(sf_dir, f"{name}.parquet")
        os.makedirs(d, exist_ok=True)
        step = -(-table.num_rows // N_FILES)
        for i in range(N_FILES):
            pq.write_table(table.slice(i * step, step),
                           os.path.join(d, f"part-{i:05d}.parquet"))
    return documents.num_rows
