"""Similarity search over an embedding column (array<float>).

- brute-force cosine top-k: the exact baseline.  The query set is small and
  broadcast; the corpus side never shuffles -- each partition scores its
  rows against all queries (crossJoin with broadcast hint) and a window
  takes top-k.  At 100 TB the corpus scan is embarrassingly parallel; only
  k rows per query per partition survive to the final top-k.
- LSH-bucketed variant (random hyperplane signatures): map-side signature,
  bucket equi-join, exact re-scoring inside buckets only -- the scale path
  when the query set is large.
- embedding-cosine near-duplicate detection reuses the LSH bucketing.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, Window, functions as F

from ._util import fan_out


def auto_bits(n_rows: int, target_bucket_rows: int = 64, lo: int = 4, hi: int = 24) -> int:
    """Size an LSH bucket space from the corpus row count.

    ``bits = ceil(log2(n / target_bucket_rows))`` keeps expected bucket
    population near ``target_bucket_rows`` at ANY corpus size — a fixed
    ``bits`` silently degrades at scale (at 10^9 vectors a 256-bucket space
    puts ~4M rows in every bucket, blowing past any per-bucket cap).
    """
    import math

    if n_rows <= target_bucket_rows:
        return lo
    return max(lo, min(hi, math.ceil(math.log2(n_rows / target_bucket_rows))))


def _list_to_mat(arr) -> np.ndarray:
    """Arrow list<float> column -> (n, dim) float64 matrix, zero per-row
    Python (flatten + reshape on the arrow value buffer)."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    n = len(arr)
    if n == 0:
        return np.zeros((0, 0), dtype=np.float64)
    flat = np.asarray(arr.flatten(), dtype=np.float64)
    if flat.size % n:
        raise ValueError("ragged embedding column: all vectors must share one dim")
    return flat.reshape(n, flat.size // n)


def _cosine_expr(a, b):
    dot = F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)
    na = F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))
    nb = F.sqrt(F.aggregate(b, F.lit(0.0), lambda acc, v: acc + v * v))
    return dot / (na * nb)


def brute_force_topk(
    embeddings: DataFrame, queries: DataFrame, k: int = 10, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """(query_id, neighbor_id, rank): exact cosine top-k per query.

    ``queries``: (query_id, query_vec).  Broadcast; corpus never shuffles
    until the per-query top-k reduction (the scale-adaptive fan-out only
    fires on small inputs, where the scoring would otherwise serialize
    onto the scan's task count).

    Norms are computed ONCE per side before the cross join — the naive
    per-pair cosine evaluates |q| and |v| for every (query, vector) pair,
    i.e. |Q| times per corpus row.  ``dot/(na*nb)`` over the precomputed
    norms is the bit-identical expression (same fold order, same
    operands), so scores and ranks are unchanged.
    """
    norm = lambda c: F.sqrt(  # noqa: E731 — shared with _cosine_expr
        F.aggregate(c, F.lit(0.0), lambda acc, v: acc + v * v)
    )
    emb = fan_out(
        embeddings.select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).cast("array<double>").alias("nv")
        )
    ).withColumn("_nn", norm(F.col("nv")))
    q = queries.select(
        "query_id", F.col("query_vec").cast("array<double>").alias("qv")
    ).withColumn("_qn", norm(F.col("qv")))
    dot = F.aggregate(
        F.zip_with("qv", "nv", lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )
    scored = emb.crossJoin(F.broadcast(q)).select(
        "query_id",
        "neighbor_id",
        (dot / (F.col("_qn") * F.col("_nn"))).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


def random_hyperplane_signatures(
    embeddings: DataFrame, bits: int = 16, dim: int | None = None, seed: int = 11,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """(vec_id, bucket): sign-random-projection LSH bucket per vector."""

    def compute(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        planes = None
        for rb in batches:
            if rb.num_rows == 0:
                continue
            tbl = pa.Table.from_batches([rb])
            mat = _list_to_mat(tbl.column(vec_col))
            if planes is None:
                rng = np.random.default_rng(seed)
                planes = rng.standard_normal((mat.shape[1], bits))
            proj = mat @ planes  # (n, bits)
            bucket = ((proj > 0).astype(np.uint64) << np.arange(bits, dtype=np.uint64)).sum(axis=1)
            yield pa.RecordBatch.from_arrays(
                [
                    tbl.column(id_col).combine_chunks().cast(pa.int64()),
                    pa.array(bucket.astype(np.int64), type=pa.int64()),
                ],
                names=[id_col, "bucket"],
            )

    return fan_out(embeddings.select(id_col, vec_col)).mapInArrow(
        compute, schema=f"{id_col} long, bucket long"
    )


def banded_hyperplane_buckets(
    embeddings: DataFrame, bands: int = 8, bits: int = 8, seed: int = 11,
    extra_bits: int = 0, id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """(id, band, bucket, subsig): ``bands`` independent sign-projection
    signatures per vector (OR-construction: one matmul computes all
    bands*(bits+extra_bits) projections; a pair collides if ANY band bucket
    matches).  ``subsig`` packs ``extra_bits`` spare hyperplane signs per
    band — consumers split over-full buckets by appending sub-signature
    bits, which costs nothing extra here (same matmul)."""

    def compute(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        planes = None
        w = bits + extra_bits
        weights = (np.uint64(1) << np.arange(w, dtype=np.uint64)).astype(np.float64)
        for rb in batches:
            if rb.num_rows == 0:
                continue
            tbl = pa.Table.from_batches([rb])
            mat = _list_to_mat(tbl.column(vec_col))
            n = mat.shape[0]
            if planes is None:
                rng = np.random.default_rng(seed)
                planes = rng.standard_normal((mat.shape[1], bands * w))
            proj = mat @ planes  # (n, bands*(bits+extra_bits))
            sgn = (proj > 0).reshape(n, bands, w)
            packed = (sgn[:, :, :bits] @ weights[:bits]).astype(np.int64)
            if extra_bits:
                sub = (sgn[:, :, bits:] @ weights[:extra_bits]).astype(np.int64)
            else:
                sub = np.zeros((n, bands), dtype=np.int64)
            ids = np.repeat(np.asarray(tbl.column(id_col).combine_chunks().cast(pa.int64())), bands)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(ids, type=pa.int64()),
                    pa.array(np.tile(np.arange(bands, dtype=np.int32), n), type=pa.int32()),
                    pa.array(packed.reshape(-1), type=pa.int64()),
                    pa.array(sub.reshape(-1), type=pa.int64()),
                ],
                names=[id_col, "band", "bucket", "subsig"],
            )

    return fan_out(embeddings.select(id_col, vec_col)).mapInArrow(
        compute, schema=f"{id_col} long, band int, bucket long, subsig long"
    )


def lsh_topk(
    embeddings: DataFrame, queries: DataFrame, k: int = 10, bits: int | None = None,
    seed: int = 11, target_bucket_rows: int = 64,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: exact cosine only within matching LSH buckets.

    Recall < 1 by construction; the scale path when queries are too many to
    broadcast-score everywhere.  ``bits`` defaults to auto-sizing from the
    corpus count (one cheap count job) so each query scores
    ~``target_bucket_rows`` candidates at ANY corpus size — a fixed bucket
    space would degrade to scanning n/2^bits of the corpus per query.
    """
    if bits is None:
        bits = auto_bits(embeddings.count(), target_bucket_rows)
    sig_e = random_hyperplane_signatures(embeddings, bits=bits, seed=seed, id_col=id_col, vec_col=vec_col)
    emb = embeddings.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).cast("array<double>").alias("nv"))
    sig_e = sig_e.withColumnRenamed(id_col, "neighbor_id")
    q_emb = queries.select(F.col("query_id").alias(id_col), F.col("query_vec").alias(vec_col))
    sig_q = random_hyperplane_signatures(q_emb, bits=bits, seed=seed, id_col=id_col, vec_col=vec_col)
    q = queries.select("query_id", F.col("query_vec").cast("array<double>").alias("qv")).join(
        sig_q.withColumnRenamed(id_col, "query_id"), "query_id"
    )
    cand = emb.join(sig_e, "neighbor_id").join(q, "bucket").select(
        "query_id", "neighbor_id", _cosine_expr(F.col("qv"), F.col("nv")).alias("cosine")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


# floor for a pair's |a|*|b| in the exact confirm: a zero vector scores
# cosine 0 against anything (its dot is 0) instead of 0/0 -- NaN on the
# broadcast path, which Spark orders above every threshold, or a
# divide-by-zero on the shuffled path.  Per-norm floors are not enough:
# 1e-300 * 1e-300 underflows to 0.
_MIN_NORM_PRODUCT = 1e-300
# largest (id, vector, norm) map the exact confirm broadcasts
_BROADCAST_CONFIRM_BYTES = 64 << 20


def embedding_near_dups(
    embeddings: DataFrame,
    threshold: float = 0.9,
    bands: int = 8,
    bits: int | None = None,
    seed: int = 11,
    max_bucket_size: int = 4096,
    split_bits: int = 16,
    target_bucket_rows: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id_a, id_b, cosine): near-duplicate vector pairs via multi-band
    sign-projection LSH + exact cosine confirm.

    Scale shape: only (id, band, bucket) triples ride the banding shuffle;
    candidate pairs are deduplicated before the vectors join back once per
    side for the exact confirm.  Two guards keep recall at ANY corpus size
    (a fixed bucket space + silent over-cap drops would zero recall at
    10^9 vectors):

    - ``bits`` auto-sizes from the corpus count (one cheap count job) so
      expected bucket population stays near ``target_bucket_rows``;
    - buckets that still exceed ``max_bucket_size`` are SPLIT on up to
      ``split_bits`` spare hyperplane signs (computed in the same matmul;
      ceil(log2(n_bucket/cap)) bits, so expected sub-bucket size <= cap).
      Positively-scaled duplicates share every sign, so splitting never
      separates true near-identical pairs.  A sub-bucket over the cap after
      splitting means >cap vectors identical on bits+split_bits projections
      (a duplicate pile-up): those link to the bucket's min-id
      representative in a STAR instead of all-pairs — the dup group stays
      discoverable (via its representative) at linear, not quadratic, cost,
      and nothing is silently dropped.

    The exact confirm broadcasts the (id, vector, norm) map when it fits
    64 MiB (``_BROADCAST_CONFIRM_BYTES``), else it joins the vectors back
    shuffled; both paths score a zero vector at cosine 0.  An empty corpus
    yields an empty result.
    """
    # several subtrees consume the signatures (size tables + join sides):
    # persist so the projection matmul runs once.  Both sig and sig2 stay
    # cached for the query's lifetime (ids-only triples, bounded size); at
    # cluster scale you'd materialize them to tables and drop the caches.
    if bits is None:
        # auto-sizing without a separate counting pass over the raw
        # embeddings: compute signatures at the auto_bits cap (hi), count the
        # PERSISTED ids-only signature frame (it materializes here instead of
        # at the first size aggregation -- same total work, one fewer scan of
        # the vectors), then MASK the packed bucket down to the effective
        # bits.  Masking keeps the low `eff` signs of THIS plane layout --
        # not the same hyperplanes a direct bits=eff run would draw (plane
        # layout depends on the packed width), but any random planes are
        # valid LSH and the sign-preservation guarantees are unchanged.
        hi = 24
        sig = banded_hyperplane_buckets(
            embeddings, bands=bands, bits=hi, seed=seed, extra_bits=split_bits,
            id_col=id_col, vec_col=vec_col,
        ).persist()
        n_vectors = sig.count() // bands
        bits = auto_bits(n_vectors, target_bucket_rows, hi=hi)
        if bits < hi:
            sig = sig.withColumn(
                "bucket", F.col("bucket").bitwiseAND(F.lit((1 << bits) - 1))
            )
    else:
        sig = banded_hyperplane_buckets(
            embeddings, bands=bands, bits=bits, seed=seed, extra_bits=split_bits,
            id_col=id_col, vec_col=vec_col,
        ).persist()
        n_vectors = sig.count() // bands
    # size table: small relative to data (one row per non-empty bucket);
    # AQE picks broadcast when it fits, shuffle join otherwise
    sizes = sig.groupBy("band", "bucket").agg(F.count(F.lit(1)).alias("_n"))
    # adaptive bypass: when auto-sizing kept every bucket under the cap
    # (the common case — over-cap buckets mean a genuine duplicate
    # pile-up), skip the whole split/star machinery: no re-bucketing join,
    # no second size aggregation, no second persist.  The existence probe
    # is one tiny job over the (already tiny) size table.
    has_big = (
        sizes.filter(F.col("_n") > max_bucket_size).limit(1).count() > 0
    )
    # broadcast-confirm sizing decided up front: when the (id, vector,
    # norm) map fits a broadcast, the confirm joins run map-side and the
    # cross-band duplicate drop moves AFTER the threshold filter (only
    # rows that pass — near-dup-rate-sized — reach that shuffle, instead
    # of every raw candidate); past the cap candidates are deduplicated
    # BEFORE the shuffled vector joins, the 100 TB shape.
    dim_row = embeddings.select(F.size(F.col(vec_col))).first()
    if dim_row is None:  # empty corpus: no pairs
        return embeddings.sparkSession.createDataFrame(
            [], "id_a long, id_b long, cosine double"
        )
    dim = int(dim_row[0] or 0)
    broadcast_confirm = n_vectors * (dim * 8 + 24) <= _BROADCAST_CONFIRM_BYTES

    def _dedup_cand(c: DataFrame) -> DataFrame:
        return c if broadcast_confirm else c.dropDuplicates(["id_a", "id_b"])

    if not has_big:
        left, right = sig.alias("l"), sig.alias("r")
        cand = _dedup_cand(
            left.join(
                right,
                (F.col("l.band") == F.col("r.band"))
                & (F.col("l.bucket") == F.col("r.bucket"))
                & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
            )
            .select(F.col(f"l.{id_col}").alias("id_a"), F.col(f"r.{id_col}").alias("id_b"))
        )
    else:
        eb = F.when(F.col("_n") <= max_bucket_size, F.lit(0)).otherwise(
            F.least(
                F.lit(split_bits),
                F.ceil(F.log2(F.col("_n") / F.lit(max_bucket_size))).cast("int"),
            )
        )
        sig2 = (
            sig.join(sizes, ["band", "bucket"])
            .withColumn("eb", eb)
            .select(
                id_col,
                "band",
                F.expr(
                    f"shiftleft(bucket, {split_bits})"
                    " + (subsig & (shiftleft(CAST(1 AS BIGINT), eb) - 1))"
                ).alias("bucket"),
            )
        )
        sizes2 = sig2.groupBy("band", "bucket").agg(F.count(F.lit(1)).alias("_n2"))
        # four consumers (ok self-join x2, big, reps): persist the sized
        # triples once instead of re-running both size aggregations per
        # consumer
        sig2 = sig2.join(sizes2, ["band", "bucket"]).persist()
        ok = sig2.filter(F.col("_n2") <= max_bucket_size)
        big = sig2.filter(F.col("_n2") > max_bucket_size)
        left, right = ok.alias("l"), ok.alias("r")
        cand_ok = (
            left.join(
                right,
                (F.col("l.band") == F.col("r.band"))
                & (F.col("l.bucket") == F.col("r.bucket"))
                & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
            )
            .select(F.col(f"l.{id_col}").alias("id_a"), F.col(f"r.{id_col}").alias("id_b"))
        )
        reps = big.groupBy("band", "bucket").agg(F.min(id_col).alias("id_a"))
        cand_big = (
            big.join(reps, ["band", "bucket"])
            .filter(F.col(id_col) != F.col("id_a"))
            .select("id_a", F.col(id_col).alias("id_b"))
        )
        cand = _dedup_cand(cand_ok.unionByName(cand_big))
    # exact confirm: norms are computed ONCE per vector (not per pair — the
    # naive per-pair cosine re-folds |v| for every candidate the vector
    # appears in); dot/(na*nb) over precomputed norms is the bit-identical
    # expression, so pair membership is unchanged
    emb = embeddings.select(
        id_col, F.col(vec_col).cast("array<double>").alias("v")
    ).withColumn(
        "_n", F.sqrt(F.aggregate("v", F.lit(0.0), lambda acc, x: acc + x * x))
    )
    # candidate pairs outnumber corpus rows by the bucket factor.  Under
    # broadcast_confirm the whole confirm is ONE vectorized mapInArrow
    # over the (id_a, id_b) stream with the corpus matrix broadcast
    # (gather + row-wise dot; pairs never shuffle, vectors never join),
    # and only rows clearing the threshold pay the distinct shuffle.
    # Past the cap the (already deduplicated) candidates take the
    # shuffled vector joins with per-id precomputed norms — the naive
    # per-pair cosine re-folds |v| for every candidate the vector
    # appears in — which is the correct 100 TB shape.
    if broadcast_confirm:
        from typing import Iterator as _It

        rows = embeddings.select(id_col, vec_col).collect()
        ids_np = np.array([r[id_col] for r in rows], dtype=np.int64)
        mat = np.array([r[vec_col] for r in rows], dtype=np.float64)
        order = np.argsort(ids_np)
        ids_sorted = ids_np[order]
        mat = mat[order]
        norms = np.linalg.norm(mat, axis=1)
        bc = embeddings.sparkSession.sparkContext.broadcast((ids_sorted, mat, norms))

        def confirm(batches: _It[pa.RecordBatch]) -> _It[pa.RecordBatch]:
            sids, smat, snorm = bc.value
            for rb in batches:
                if rb.num_rows == 0:
                    continue
                ia = np.asarray(rb.column(0), dtype=np.int64)
                ib = np.asarray(rb.column(1), dtype=np.int64)
                ra = np.searchsorted(sids, ia)
                rb_ = np.searchsorted(sids, ib)
                cos = (smat[ra] * smat[rb_]).sum(axis=1) / np.maximum(
                    snorm[ra] * snorm[rb_], _MIN_NORM_PRODUCT
                )
                yield pa.RecordBatch.from_arrays(
                    [pa.array(ia), pa.array(ib), pa.array(cos)],
                    names=["id_a", "id_b", "cosine"],
                )

        pairs = cand.select("id_a", "id_b").mapInArrow(
            confirm, schema="id_a long, id_b long, cosine double"
        )
        return pairs.filter(F.col("cosine") >= threshold).dropDuplicates(
            ["id_a", "id_b"]
        )
    va = emb.select(F.col(id_col).alias("id_a"), F.col("v").alias("v_a"), F.col("_n").alias("n_a"))
    vb = emb.select(F.col(id_col).alias("id_b"), F.col("v").alias("v_b"), F.col("_n").alias("n_b"))
    dot = F.aggregate(
        F.zip_with("v_a", "v_b", lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )
    pairs = (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a",
            "id_b",
            (
                dot / F.greatest(F.col("n_a") * F.col("n_b"), F.lit(_MIN_NORM_PRODUCT))
            ).alias("cosine"),
        )
    )
    return pairs.filter(F.col("cosine") >= threshold)


def _kmeans(mat: np.ndarray, k: int, iters: int = 10, seed: int = 5) -> np.ndarray:
    """Plain Lloyd's k-means on a sample (numpy); returns (k, dim) centroids."""
    rng = np.random.default_rng(seed)
    centroids = mat[rng.choice(len(mat), size=min(k, len(mat)), replace=False)].astype(np.float64)
    for _ in range(iters):
        # squared distances via ||x||^2 - 2 x.c + ||c||^2
        d = (
            (mat * mat).sum(axis=1)[:, None]
            - 2.0 * (mat @ centroids.T)
            + (centroids * centroids).sum(axis=1)[None, :]
        )
        assign = d.argmin(axis=1)
        for c in range(len(centroids)):
            members = mat[assign == c]
            if len(members):
                centroids[c] = members.mean(axis=0)
    return centroids


def ivf_assignments(
    embeddings: DataFrame, centroids: np.ndarray, n_probe: int = 1,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """(id, cluster) rows: nearest n_probe centroids per vector (n_probe=1
    for corpus assignment; >1 for query probe lists)."""
    cb = centroids  # captured in the closure -> shipped to executors once

    def compute(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        cn = (cb * cb).sum(axis=1)
        for rb in batches:
            if rb.num_rows == 0:
                continue
            tbl = pa.Table.from_batches([rb])
            mat = _list_to_mat(tbl.column(vec_col))
            d = (mat * mat).sum(axis=1)[:, None] - 2.0 * (mat @ cb.T) + cn[None, :]
            order = np.argsort(d, axis=1)[:, :n_probe]
            ids = np.repeat(np.asarray(tbl.column(id_col).combine_chunks().cast(pa.int64())), n_probe)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(ids, type=pa.int64()),
                    pa.array(order.reshape(-1).astype(np.int32), type=pa.int32()),
                ],
                names=[id_col, "cluster"],
            )

    return embeddings.select(id_col, vec_col).mapInArrow(
        compute, schema=f"{id_col} long, cluster int"
    )


def _hash_sample_matrix(
    embeddings: DataFrame, train_sample: int, id_col: str, vec_col: str
) -> np.ndarray:
    """Deterministic md5 hash sample of the corpus as an (n, dim) matrix —
    the shared quantizer-training sampler (ivf_build, pq_train).  md5
    first-8-hex-digits as a uniform 32-bit integer; keep rows below
    frac * 2^32.  Expected sample size ~1.3 * train_sample; no limit() so
    no partition-order bias (limit takes the first scan partitions, so any
    storage clustering would train the quantizer on one shard)."""
    n = embeddings.count()
    frac = min(1.0, (train_sample * 1.3) / max(n, 1))
    thresh = int(frac * 0xFFFFFFFF)
    sample = (
        embeddings.filter(
            F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10)
            .cast("long")
            <= F.lit(thresh)
        )
        .select(vec_col)
        .collect()
    )
    return np.stack([r[vec_col] for r in sample]).astype(np.float64)


def ivf_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_clusters: int = 16,
    n_probe: int = 4,
    train_sample: int = 2048,
    seed: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF approximate top-k: coarse k-means quantizer, exact cosine only
    within each query's n_probe nearest clusters.

    The quantizer trains on a bounded sample (driver-side by design -- the
    training set is small regardless of corpus size); centroids broadcast in
    the UDF closure; corpus assignment is one map-side pass; search joins on
    cluster id, so each query scores ~n_probe/n_clusters of the corpus.

    The training sample is a deterministic md5 hash sample of the whole
    corpus, NOT ``limit(n)``: limit takes the first scan partition(s), so
    with any storage clustering (by source, by time) the centroids would
    model one shard and probe recall would collapse on the rest.  The hash
    filter is uniform over rows regardless of partition layout (the same
    pattern as text.stratified_sample).
    """
    centroids, corpus_assign = ivf_build(
        embeddings, n_clusters=n_clusters, train_sample=train_sample, seed=seed,
        id_col=id_col, vec_col=vec_col,
    )
    return ivf_query(
        embeddings, centroids, corpus_assign, queries, k=k, n_probe=n_probe,
        id_col=id_col, vec_col=vec_col,
    )


def ivf_build(
    embeddings: DataFrame,
    n_clusters: int = 16,
    train_sample: int = 2048,
    seed: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[np.ndarray, DataFrame]:
    """Build the IVF index ONCE: (centroids ndarray, assignments DataFrame
    (id, cluster)) — the persisted-index pattern: at 100 TB the quantizer
    trains and assigns once, the assignments table materializes to storage
    (KBs of centroids ride along, e.g. as a tiny side file), and every
    later query batch runs :func:`ivf_query` against it without touching
    the corpus vectors for assignment again (same operational shape as
    the MinHash signature store in dedup.minhash_lsh_pairs_incremental)."""
    mat = _hash_sample_matrix(embeddings, train_sample, id_col, vec_col)
    centroids = _kmeans(mat, n_clusters, seed=seed)
    return centroids, ivf_assignments(embeddings, centroids, 1, id_col, vec_col)


def ivf_query(
    embeddings: DataFrame,
    centroids: np.ndarray,
    assignments: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Search a built IVF index: exact cosine only within each query's
    n_probe nearest clusters (``assignments`` may come straight from
    :func:`ivf_build` or from a stored table)."""
    emb = embeddings.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).cast("array<double>").alias("nv")
    ).join(assignments.withColumnRenamed(id_col, "neighbor_id"), "neighbor_id")

    q_emb = queries.select(F.col("query_id").alias(id_col), F.col("query_vec").alias(vec_col))
    probes = ivf_assignments(q_emb, centroids, n_probe, id_col, vec_col).withColumnRenamed(
        id_col, "query_id"
    )
    q = queries.select("query_id", F.col("query_vec").cast("array<double>").alias("qv")).join(
        probes, "query_id"
    )
    cand = emb.join(q, "cluster").select(
        "query_id", "neighbor_id", _cosine_expr(F.col("qv"), F.col("nv")).alias("cosine")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


# ---- product quantization (PQ): compressed-domain ANN ----------------------


def pq_train(
    embeddings: DataFrame,
    m: int = 8,
    k: int = 32,
    train_sample: int = 2048,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """Train product-quantization codebooks: (m, k, dim/m) centroids.

    The canonical embedding-compression technique (Jegou, Douze, Schmid:
    "Product Quantization for Nearest Neighbor Search", TPAMI 2011): the
    L2-normalized vector splits into ``m`` subvectors, each quantized to
    one of ``k`` centroids learned by k-means per subspace.  A dim-64
    float32 vector becomes m=8 byte codes — 32x smaller — and queries run
    in the COMPRESSED domain via per-query lookup tables (asymmetric
    distance, :func:`pq_topk`), never touching the original vectors.

    Training follows ivf_build's pattern: the shared deterministic md5
    hash sample (bounded driver-side by design; no limit() partition-order
    bias), one numpy k-means per subspace."""
    mat = _hash_sample_matrix(embeddings, train_sample, id_col, vec_col)
    mat /= np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
    dim = mat.shape[1]
    if dim % m:
        raise ValueError(f"embedding dim {dim} not divisible by m={m}")
    sub = dim // m
    return np.stack(
        [
            _kmeans(mat[:, j * sub : (j + 1) * sub], k, seed=seed + j)
            for j in range(m)
        ]
    )


def pq_encode(
    embeddings: DataFrame,
    codebooks: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, codes array<int>): nearest-centroid code per subspace — the
    compressed corpus representation (m small ints per vector; persist it
    as the stored index, like the IVF assignments table).  Map-side only:
    the KB-sized codebooks ride the closure, the corpus never shuffles."""
    cb = codebooks  # (m, k, sub)
    m, _, sub = cb.shape
    cb_sq = (cb * cb).sum(axis=2)  # (m, k)

    def compute(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from parquet4seastar_spark import _alloc

        _alloc.tune_allocator()
        for rb in batches:
            if rb.num_rows == 0:
                continue
            tbl = pa.Table.from_batches([rb])
            mat = _list_to_mat(tbl.column(vec_col))
            mat /= np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
            n = len(mat)
            codes = np.empty((n, m), dtype=np.int32)
            for j in range(m):
                s = mat[:, j * sub : (j + 1) * sub]
                # argmin ||s - c||^2 == argmin (||c||^2 - 2 s.c)
                codes[:, j] = (cb_sq[j][None, :] - 2.0 * (s @ cb[j].T)).argmin(axis=1)
            flat = pa.array(codes.reshape(-1), type=pa.int32())
            offs = pa.py_buffer((np.arange(n + 1, dtype=np.int32) * m).tobytes())
            carr = pa.Array.from_buffers(pa.list_(pa.int32()), n, [None, offs], children=[flat])
            yield pa.RecordBatch.from_arrays(
                [tbl.column(id_col).combine_chunks().cast(pa.int64()), carr],
                names=[id_col, "codes"],
            )

    return embeddings.select(id_col, vec_col).mapInArrow(
        compute, schema=f"{id_col} long, codes array<int>"
    )


def pq_topk(
    codes: DataFrame,
    codebooks: np.ndarray,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    rerank: DataFrame | None = None,
    shortlist: int = 50,
) -> DataFrame:
    """(query_id, neighbor_id, rank): asymmetric-distance top-k in the
    COMPRESSED domain.  Per query, a (m, k) inner-product lookup table
    against the codebooks is built driver-side (queries are small and
    broadcast via the closure); each corpus partition scores its code
    rows with pure table gathers — the original vectors are never read.
    Scores approximate cosine (all vectors L2-normalized at encode).
    Per-partition top-k survives to a final WindowGroupLimit, the
    brute_force_topk reduction shape.

    ``rerank``: the standard ADC + exact-re-rank pipeline — pass the
    embeddings table and the ADC pass keeps a per-query ``shortlist``
    instead of k, then ONLY those shortlist rows (k x queries, tiny) are
    joined back to their true vectors and exact-cosine re-ranked.  On
    near-random embeddings this lifts recall@10 from ~0.4 (pure ADC,
    quantization-limited) to ~0.9 while still never scanning the vector
    column: the corpus-wide pass reads codes only."""
    cb = codebooks
    m, _, sub = cb.shape
    qrows = queries.select("query_id", "query_vec").collect()
    qids = np.array([r["query_id"] for r in qrows], dtype=np.int64)
    qmat = np.stack([r["query_vec"] for r in qrows]).astype(np.float64)
    qmat /= np.maximum(np.linalg.norm(qmat, axis=1, keepdims=True), 1e-12)
    # luts[q, j, code] = <q_j, cb[j, code]>
    luts = np.stack(
        [qmat[:, j * sub : (j + 1) * sub] @ cb[j].T for j in range(m)], axis=1
    )
    nq = len(qids)
    kk = max(k, shortlist) if rerank is not None else k

    def score(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from parquet4seastar_spark import _alloc

        _alloc.tune_allocator()
        jidx = np.arange(m)
        for rb in batches:
            if rb.num_rows == 0:
                continue
            tbl = pa.Table.from_batches([rb])
            ids = np.asarray(tbl.column(id_col).combine_chunks().cast(pa.int64()))
            carr = tbl.column("codes").combine_chunks()
            cmat = np.asarray(carr.flatten()).reshape(len(ids), m)
            # (nq, n): sum over subspaces of LUT gathers
            s = np.zeros((nq, len(ids)))
            for q in range(nq):
                s[q] = luts[q][jidx[:, None], cmat.T].sum(axis=0)
            top = min(kk, len(ids))
            part = np.argpartition(-s, top - 1, axis=1)[:, :top]
            out_q = np.repeat(qids, top)
            out_n = ids[part.reshape(-1)]
            out_s = np.take_along_axis(s, part, axis=1).reshape(-1)
            yield pa.RecordBatch.from_arrays(
                [pa.array(out_q), pa.array(out_n), pa.array(out_s)],
                names=["query_id", "neighbor_id", "adc_score"],
            )

    cand = codes.mapInArrow(
        score, schema="query_id long, neighbor_id long, adc_score double"
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("adc_score"), F.asc("neighbor_id"))
    if rerank is None:
        return (
            cand.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "rank")
        )
    short = (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= kk)
        .select("query_id", "neighbor_id")
    )
    nv = rerank.select(
        F.col(id_col).alias("neighbor_id"),
        F.col("embedding").cast("array<double>").alias("nv"),
    )
    qv = queries.select("query_id", F.col("query_vec").cast("array<double>").alias("qv"))
    # the shortlist (k x queries rows) broadcasts so the embeddings table
    # is scanned but never shuffled (ADVICE r6: without the hint a planner
    # fallback could sort-merge-shuffle the full vector column here)
    exact = (
        F.broadcast(short).join(nv, "neighbor_id")
        .join(F.broadcast(qv), "query_id")
        .select("query_id", "neighbor_id", _cosine_expr(F.col("qv"), F.col("nv")).alias("cosine"))
    )
    w2 = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        exact.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )
