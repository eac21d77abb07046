"""Seeded benchmark inputs, cached on disk by (workload, seed, size, GEN_VERSION).

Generation is never timed. Every generator is a pure function of its seed and
size, so a cached directory with a ``_SUCCESS`` marker is reused as is.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: bump when any generator's output changes; it is part of every cache key
GEN_VERSION = 3

#: share of transcript rows re-emitted as exact duplicates (FIXTURES.md F1's
#: "duplicated turn_idx" class, which ``generate_transcripts`` never injects)
DUP_DENOM = 1000


def _cached(root: str, key: str, build) -> str:
    """Return ``root/key``, building it with ``build(tmp_dir)`` first if it has
    no ``_SUCCESS`` marker. The build writes to a temp dir that is renamed
    into place, so an interrupted build never looks complete."""
    path = os.path.join(root, f"{key}-g{GEN_VERSION}")
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return path
    tmp = f"{path}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    open(os.path.join(tmp, "_SUCCESS"), "w").close()
    os.rename(tmp, path)
    return path


def transcripts_with_dups(spark, num_convs: int, seed: int):
    """``generate_transcripts`` plus a hash-selected ≈1/DUP_DENOM of its rows
    emitted a second time, byte-identical (duplicated ``(conv_id, turn_idx)``)."""
    from pyspark.sql import functions as F

    from jsonschema_go_spark.sources.transcripts import generate_transcripts

    df = generate_transcripts(spark, num_convs=num_convs, seed=seed)
    pick = F.pmod(F.xxhash64("conv_id", "turn_idx", F.lit("dup"), F.lit(seed)), F.lit(DUP_DENOM)) == 0
    return df.unionByName(df.where(pick))


def transcript_table(spark, root: str, num_convs: int, seed: int, files: int) -> str:
    """Transcripts (with duplicates) as exactly ``files`` parquet files. Rows
    are spread over files by row hash, so one conversation's turns land in
    several files (and, in a stream, in several micro-batches)."""
    from pyspark.sql import functions as F

    def build(tmp):
        df = transcripts_with_dups(spark, num_convs, seed)
        spread = F.pmod(F.xxhash64("conv_id", "turn_idx", "text", F.lit(seed)), F.lit(files))
        parts = os.path.join(tmp, "parts")
        # one writer task: one file per `_f` value
        df.withColumn("_f", spread).repartition(1).write.partitionBy("_f").parquet(parts)
        data = os.path.join(tmp, "data")
        os.makedirs(data)
        for k in range(files):
            part_dir = os.path.join(parts, f"_f={k}")
            names = sorted(n for n in os.listdir(part_dir) if n.endswith(".parquet"))
            for j, n in enumerate(names):
                os.rename(os.path.join(part_dir, n), os.path.join(data, f"part-{k:05d}-{j}.parquet"))
        shutil.rmtree(parts)

    return os.path.join(_cached(root, f"transcripts-s{seed}-c{num_convs}-f{files}", build), "data")


# ---------------------------------------------------------------- dedup corpus

def _vocabulary(rng: np.random.Generator, size: int) -> np.ndarray:
    """``size`` distinct pseudo-words of 3–9 lowercase letters."""
    words: set = set()
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    while len(words) < size:
        n = int(rng.integers(3, 10))
        words.add("".join(rng.choice(letters, n)))
    return np.array(sorted(words))


def dedup_corpus(root: str, num_docs: int, seed: int) -> str:
    """``num_docs`` documents of 10–100 words drawn from a Zipf(1.1) vocabulary
    of 20k words. 5% are one-word-edit near-duplicates of an earlier original
    and 1% are exact copies. Ids are int64 and shuffled, so a duplicate is
    not always the larger id of its pair."""

    def build(tmp):
        rng = np.random.default_rng([seed, 11])
        vocab = _vocabulary(rng, 20_000)
        ranks = np.arange(1, len(vocab) + 1, dtype=np.float64)
        p = ranks ** -1.1
        p /= p.sum()
        n_near = num_docs * 5 // 100
        n_exact = num_docs // 100
        n_orig = num_docs - n_near - n_exact
        lengths = rng.integers(10, 101, n_orig)
        flat = rng.choice(len(vocab), int(lengths.sum()), p=p)
        docs = np.split(flat, np.cumsum(lengths)[:-1])
        texts = [" ".join(vocab[d]) for d in docs]
        srcs = rng.choice(n_orig, n_near + n_exact, replace=False)
        for j, s in enumerate(srcs):
            words = list(vocab[docs[s]])
            if j < n_near:
                pos = int(rng.integers(len(words)))
                new = vocab[int(rng.choice(len(vocab), p=p))]
                while new == words[pos]:
                    new = vocab[int(rng.integers(len(vocab)))]
                words[pos] = new
            texts.append(" ".join(words))
        ids = rng.permutation(num_docs).astype(np.int64)
        pq.write_table(
            pa.table({"doc_id": ids, "text": texts}), os.path.join(tmp, "docs.parquet")
        )

    return _cached(root, f"dedup-s{seed}-n{num_docs}", build)


# ------------------------------------------------------- quality-query tables

_FILLER = (
    "spark table value scan query batch stream window hash column agg join "
    "filter order group sort merge row line key part data fast slow big small"
).split()


def quality_tables(root: str, seed: int, scale: float) -> str:
    """The tables the quality-query subset reads, with the column names, types
    and value domains of the registered queries' inputs: ``events``
    (10k rows at scale 1), ``documents`` (500, 6% of them re-emitted
    near or exact duplicates), ``embeddings`` (500 × 64
    float32) and ``lineitem`` (≈60k, a few orders with gapped line numbers)."""

    def build(tmp):
        from jsonschema_go_spark.operators.text import STOPWORDS

        rng = np.random.default_rng([seed, 23])
        n_ev = int(10_000 * scale)
        base = np.datetime64("2024-01-01T00:00:00", "us")
        ts = base + np.sort(rng.integers(0, 30 * 86400 * 10**6, n_ev)).astype("timedelta64[us]")
        events = pa.table({
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": rng.integers(0, 150, n_ev).astype(np.int64),
            "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], n_ev),
            "value": np.round(rng.exponential(50.0, n_ev) + 0.01, 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        })
        pq.write_table(events, os.path.join(tmp, "events.parquet"))

        n_doc = int(500 * scale)
        langs = rng.choice(["en", "de", "fr", "es"], n_doc)
        texts = []
        for lang in langs:
            pool = _FILLER + STOPWORDS[str(lang)]
            texts.append(" ".join(rng.choice(pool, int(rng.integers(8, 80)))))
        # the last 6% re-emit earlier documents, so the dedup queries have
        # duplicates to find: 5% with one word replaced, 1% exact copies
        n_near, n_exact = n_doc * 5 // 100, n_doc // 100
        first = n_doc - n_near - n_exact
        for j, src in enumerate(rng.choice(first, n_near + n_exact, replace=False)):
            words = texts[src].split()
            if j < n_near:
                pos = int(rng.integers(len(words)))
                words[pos] = next(w for w in rng.permutation(_FILLER) if w != words[pos])
            texts[first + j] = " ".join(words)
            langs[first + j] = langs[src]
        documents = pa.table({
            "doc_id": np.arange(n_doc, dtype=np.int64),
            "text": texts,
            "lang": langs,
            "source": [f"src{k}" for k in rng.integers(0, 20, n_doc)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        })
        pq.write_table(documents, os.path.join(tmp, "documents.parquet"))

        n_vec = int(500 * scale)
        vecs = rng.normal(0.0, 0.15, (n_vec, 64)).astype(np.float32)
        embeddings = pa.table({
            "vec_id": np.arange(n_vec, dtype=np.int64),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": rng.integers(0, 10, n_vec).astype(np.int32),
        })
        pq.write_table(embeddings, os.path.join(tmp, "embeddings.parquet"))

        n_ord = int(15_000 * scale)
        lines = rng.integers(1, 8, n_ord)
        okey = np.repeat(np.arange(1, n_ord + 1, dtype=np.int64), lines)
        lnum = np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32)
        gapped = rng.random(len(lnum)) < 0.001
        lnum[gapped] += 10
        n_li = len(okey)
        ship = base + rng.integers(0, 2000 * 86400, n_li).astype("timedelta64[s]").astype("timedelta64[us]")
        lineitem = pa.table({
            "l_orderkey": okey,
            "l_partkey": rng.integers(1, 2000 * scale + 1, n_li).astype(np.int64),
            "l_suppkey": rng.integers(1, 100 * scale + 1, n_li).astype(np.int64),
            "l_linenumber": lnum,
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900, 100_000, n_li), 2),
            "l_discount": np.round(rng.integers(0, 11, n_li) / 100, 2),
            "l_tax": np.round(rng.integers(0, 9, n_li) / 100, 2),
            "l_returnflag": rng.choice(["A", "N", "R"], n_li),
            "l_linestatus": rng.choice(["F", "O"], n_li),
            "l_shipdate": pa.array(ship, pa.timestamp("us")),
        })
        pq.write_table(lineitem, os.path.join(tmp, "lineitem.parquet"))

    return _cached(root, f"quality-s{seed}-x{scale}", build)
