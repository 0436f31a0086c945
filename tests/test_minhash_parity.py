"""The Arrow-vectorized minhash path must produce EXACTLY the signatures of
the pure Column-expression spec (``array_min(transform(bh, xxhash64(h,
i)))`` per permutation) — the numpy implementation re-derives Spark's
chained XXH64 (hashInt(i, hashLong(h, 42))) in closed form, so any drift
is a real bug, not representation noise. Also pins the end-to-end
consequence (candidate pairs are identical on real data either way) and
the gram-hash LSH path against the string-gram reference: exact confirm
matches ``jaccard_pairs``, and candidate generation keeps the recall law
d3's oracle relies on."""

from __future__ import annotations

from pyspark.sql import functions as F

from angelo_bravo_etl_task_spark.operators.dedup import (
    _band_explode,
    _minhash_signature_arrow,
    _permutation_mix,
    gram_hashes_frame,
    jaccard_pairs,
    jaccard_pairs_from_hashes,
    lsh_probe_candidates_from_hashes,
    minhash_lsh_candidates_from_hashes,
    shingle_hashes,
)


def _spec_signature(bh, k: int):
    return F.array(
        *[F.array_min(F.transform(bh, _permutation_mix(i))) for i in range(k)]
    )


def test_arrow_matches_expression_spec(spark):
    texts = [
        (1, "the quick brown fox jumps over the lazy dog again and again"),
        (2, "completely different words about query engines and shuffles"),
        (3, "short doc"),
        (4, ""),  # empty: every signature slot NULL on both paths
        (5, "one two three one two three one two three"),
    ]
    k = 16
    df = spark.createDataFrame(texts, "doc_id LONG, text STRING")
    hashed = df.select(
        "doc_id", shingle_hashes(F.col("text"), 3).alias("_bh")
    )
    jvm = {
        r["doc_id"]: r["sig"]
        for r in hashed.select(
            "doc_id", _spec_signature(F.col("_bh"), k).alias("sig")
        ).collect()
    }
    arrow = {
        r["doc_id"]: r["sig"]
        for r in hashed.select(
            "doc_id", _minhash_signature_arrow(k)(F.col("_bh")).alias("sig")
        ).collect()
    }
    assert jvm == arrow
    assert arrow[4] == [None] * k


def test_candidate_pairs_identical_on_real_data(spark, sf_dir):
    """LSH candidates built from Arrow signatures equal those built from
    Column-spec signatures, banded and self-joined the same way."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    h = gram_hashes_frame(docs)
    k, bands = 64, 16
    fast = set(
        map(
            tuple,
            minhash_lsh_candidates_from_hashes(
                h, num_hashes=k, bands=bands
            ).collect(),
        )
    )
    banded = _band_explode(
        h.select("doc_id", _spec_signature(F.col("_bh"), k).alias("_sig")),
        "doc_id",
        k,
        bands,
    )
    a, b = banded.alias("a"), banded.alias("b")
    spec = set(
        map(
            tuple,
            a.join(
                b,
                on=[
                    F.col("a.band") == F.col("b.band"),
                    F.col("a.band_hash") == F.col("b.band_hash"),
                    F.col("a.doc_id") < F.col("b.doc_id"),
                ],
            )
            .select(
                F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
            )
            .distinct()
            .collect(),
        )
    )
    assert fast == spec
    assert len(fast) > 0


def _all_pairs(a, b):
    return a.select(F.col("doc_id").alias("id_a")).crossJoin(
        b.select(F.col("doc_id").alias("id_b"))
    )


def test_shared_hash_frame_paths_match_string_paths(spark, sf_dir):
    """The gram-hash pipeline (gram_hashes_frame +
    minhash_lsh_candidates_from_hashes / lsh_probe_candidates_from_hashes /
    jaccard_pairs_from_hashes) on real data: every pair the string-gram
    reference ``jaccard_pairs`` confirms at >= 0.6 over ALL pairs is an
    LSH candidate (the recall law d3's oracle relies on), and the hash
    confirm reproduces ``jaccard_pairs`` exactly — same pairs, bit-identical
    jaccard doubles (int/int division of identical set sizes)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    h = gram_hashes_frame(docs)

    # symmetric candidates ⊇ exact pairs at 0.6
    cand_df = minhash_lsh_candidates_from_hashes(h)
    cand = set(map(tuple, cand_df.collect()))
    truth = {
        (r["id_a"], r["id_b"])
        for r in jaccard_pairs(
            docs,
            _all_pairs(docs, docs).where(F.col("id_a") < F.col("id_b")),
            threshold=0.6,
        ).collect()
    }
    assert truth and truth <= cand

    # confirm stage: identical pairs AND identical jaccard doubles
    old_conf = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in jaccard_pairs(docs, cand_df, threshold=0.6).collect()
    }
    new_conf = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in jaccard_pairs_from_hashes(h, h, cand_df, 0.6).collect()
    }
    assert new_conf == old_conf and len(new_conf) > 0

    # asymmetric probe: delta vs corpus split, same recall law
    corpus = docs.where(F.col("doc_id") % 10 != 0)
    delta = docs.where(F.col("doc_id") % 10 == 0)
    probe = set(
        map(
            tuple,
            lsh_probe_candidates_from_hashes(
                gram_hashes_frame(delta), gram_hashes_frame(corpus)
            ).collect(),
        )
    )
    probe_truth = {
        (r["id_a"], r["id_b"])
        for r in jaccard_pairs(
            docs, _all_pairs(delta, corpus), threshold=0.6
        ).collect()
    }
    assert probe_truth <= probe
