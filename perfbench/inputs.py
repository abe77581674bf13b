"""Inputs made from the seed.  The program under test receives only these.

- the source-repo corpus, made by the engine's own deterministic generator
  (``engine.generator``), for the encode and decode workloads;
- ``documents``, ``embeddings`` and ``lineitem`` tables in the shape of the
  TPC-H-ish test data the headline queries were written against, for the
  query workload.  Their properties that the queries' checks rely on are
  kept: a 30-word vocabulary with no canary text in it, random 64-d
  vectors whose pairwise cosines stay far below the 0.9 near-duplicate
  threshold, and a three-valued return flag.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# (rows, salt_target_rows) of the corpus per scale: "bench" is the measured
# size, "tiny" the self-test size.  The Zipf-skewed generator gives its
# largest repo about 30% of the rows over 50 repos, so each size puts that
# repo above the salting granularity and the encode splits it: about 3,000
# rows over 2,048 at 10,000 rows, about 900 over 512 at 3,000.
CORPUS = {"bench": (10_000, 2_048), "tiny": (3_000, 512)}
TABLE_ROWS = {
    # documents and embeddings as in the sf0.1 test data; lineitem at a
    # tenth of its 600,000 rows, which cuts the cost of hashing its 4-column
    # round-trip result for the oracle check and keeps a run short
    "bench": (5_000, 2_000, 60_000),
    "tiny": (500, 200, 6_000),
}

_VOCAB = (
    "spark window merge table column vector stream value data small join filter big "
    "group hash customer sort order slow line part fast row the agg key query a scan batch"
).split()
_LANGS = np.array(["en", "de", "es", "fr", "zh"])
_LANG_P = [0.41, 0.145, 0.15, 0.15, 0.145]


def write_corpus(spark, path: str, rows: int, seed: int) -> None:
    """The engine's generated source-repo table, written as parquet."""
    from parquet4seastar_spark.engine.generator import generate_source_repos

    generate_source_repos(spark, rows, n_repos=max(50, rows // 2000), seed=seed).write.mode(
        "overwrite"
    ).parquet(path)


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    n_words = rng.integers(10, 101, n)
    words = np.array(_VOCAB)[rng.integers(0, len(_VOCAB), int(n_words.sum()))]
    ends = np.cumsum(n_words)
    text = [" ".join(words[e - k : e]) for e, k in zip(ends.tolist(), n_words.tolist())]
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": pa.array(text, pa.string()),
        "lang": pa.array(rng.choice(_LANGS, n, p=_LANG_P), pa.string()),
        "source": pa.array(np.char.add("src", (ids % 20).astype(str)), pa.string()),
        "n_chars": pa.array([len(t) for t in text], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    vecs = rng.normal(0.0, 0.125, (n, dim)).astype(np.float32)
    emb = pa.ListArray.from_arrays(
        pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32)), pa.array(vecs.ravel())
    )
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": emb,
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })


def _lineitem(rng: np.random.Generator, n: int) -> pa.Table:
    day = np.datetime64("1992-01-01", "us") + rng.integers(0, 365 * 10, n).astype(
        "timedelta64[D]"
    )
    return pa.table({
        "l_orderkey": rng.integers(1, 150_001, n),
        "l_partkey": rng.integers(1, 20_001, n),
        "l_suppkey": rng.integers(1, 1_001, n),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105_000.0, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": pa.array(rng.choice(np.array(["A", "N", "R"]), n), pa.string()),
        "l_linestatus": pa.array(rng.choice(np.array(["F", "O"]), n), pa.string()),
        "l_shipdate": pa.array(day, pa.timestamp("us")),
    })


def write_query_tables(directory: str, seed: int, scale: str) -> int:
    """Write the three query tables as ``<directory>/<name>.parquet``;
    returns their total Arrow size in bytes."""
    n_docs, n_vecs, n_lines = TABLE_ROWS[scale]
    rng = np.random.default_rng(seed)
    os.makedirs(directory, exist_ok=True)
    total = 0
    for name, table in (
        ("documents", _documents(rng, n_docs)),
        ("embeddings", _embeddings(rng, n_vecs)),
        ("lineitem", _lineitem(rng, n_lines)),
    ):
        pq.write_table(table, os.path.join(directory, f"{name}.parquet"))
        total += table.nbytes
    return total
