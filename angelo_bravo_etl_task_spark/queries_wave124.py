r"""Round-10 wave 124: the ExactSubstr REMOVAL transform (sd2) and the
composed nightly incremental-corpus loop (px7).

sd2 completes wave 123's sd1: where sd1 *accounts* repeated-span
coverage, sd2 performs Lee et al. 2021's actual output operation — emit
the CLEANED text with every repeated span dropped except one canonical
occurrence corpus-wide.

px7 closes VERDICT r9 item 6: d13 (delta-vs-corpus candidate probe) and
merge1 (MERGE INTO) existed separately; px7 registers the composed loop
a production training-data pipeline runs nightly — delta → LSH probe →
exact confirm → MERGE into the standing corpus state (matched corpus
docs absorb their duplicates, novel deltas insert) — with an exact
state-replay oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .queries import _grams_select, _register, _t

from .sd2_shared import _SD2_CTES, sd2_cleaned_frame

# ==========================================================================
# sd2: exact-substring removal rewrite — emit the cleaned text
# ==========================================================================

# Same planted construction as sd1 (every 61st doc REPLACED by a shared
# 12-token boilerplate run, every 13th PREFIXED with it), same 10-token
# window hashing, same >=2-distinct-docs repeat rule. New here: the
# canonical occurrence per repeated window hash — (MIN doc_id, then MIN
# position within that doc) — SURVIVES; every other occurrence is
# removal-marked, and the query emits each document's cleaned token
# stream (positions not covered by any marked window). The CTE chain and
# the engine pipeline live in sd2_shared.py, shared with px8
# (queries_wave127.py) so the two oracles cannot drift.
_SD2_SQL = f"""
WITH {_SD2_CTES}
SELECT p.doc_id,
       CAST(len(p.toks) AS BIGINT) AS n_toks,
       CAST(COALESCE(c.kept_tokens, 0) AS BIGINT) AS kept_tokens,
       CAST(len(p.toks) - COALESCE(c.kept_tokens, 0) AS BIGINT)
         AS removed_tokens,
       COALESCE(c.clean_md5, md5('')) AS clean_md5
FROM planted p LEFT JOIN cleaned c ON p.doc_id = c.doc_id
"""


@_register("sd2_substring_rewrite", _SD2_SQL)
def sd2_substring_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr removal rewrite (Lee et al. 2021, the production verb
    sd1's accounting precedes): for every 10-token window repeated across
    >= 2 distinct documents, ONE canonical occurrence survives corpus-wide
    — (min doc_id, min position) — and every other occurrence's span is
    dropped from its document; the query emits the cleaned token stream
    (released as md5 + kept/removed counts so the hash certifies the
    exact rewritten text). Planting (sd1's): every 61st doc IS the shared
    12-token boilerplate (doc 0 becomes the canonical keeper; the rest
    rewrite to empty — md5('') rides the hash), every 13th is prefixed
    with it (loses exactly the prefix); natural text passes through
    untouched unless genuinely repeated.

    100 TB shape: the repeat detection is sd1's ONE combinable aggregate
    on the window hash (the only high-cardinality shuffle); the canonical
    choice adds one aggregate over the (already reduced) repeated-hash
    frame; and the REWRITE is per-document array surgery — covered
    positions are collected per doc (bounded by doc length) and the
    cleaned text is a single higher-order `filter` over the token array,
    so the engine never explodes the corpus to token-position rows (the
    oracle does, for clarity, at oracle scale). One doc_id-keyed join
    carries the bounded cover sets back; no global sort, no suffix
    array — the same maximality-for-fixed-width tradeoff sd1 documents.
    Reference parity: extends sd1 (queries_wave123.py); reference has no
    sub-document operation (Angelo_ETL_Task.py is whole-row ETL)."""
    cleaned = sd2_cleaned_frame(spark, sf_dir)
    return cleaned.select(
        "doc_id",
        F.size("toks").cast("bigint").alias("n_toks"),
        F.size("kept_toks").cast("bigint").alias("kept_tokens"),
        (F.size("toks") - F.size("kept_toks"))
        .cast("bigint")
        .alias("removed_tokens"),
        F.md5(F.concat_ws(" ", "kept_toks").cast("binary")).alias(
            "clean_md5"
        ),
    )


# ==========================================================================
# px7: the composed nightly incremental-corpus loop — probe → confirm →
# MERGE into the standing corpus state
# ==========================================================================

# d13's exact ground-truth decision (inverted-gram-index word-3-gram
# jaccard >= 0.6, min-id match) extended by the MERGE replay: matched
# corpus docs absorb their duplicate arrivals (WHEN MATCHED → counter
# update), unmatched deltas insert (WHEN NOT MATCHED → insert). Same
# construction and the same empirical-floor caveat as d13: planted
# clones are caught with certainty (identical signatures); natural
# cross-split pairs measured >= 0.75 with nothing in (0.35, 0.75).
_PX7_SQL = f"""
    WITH corpus AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 0
    ), delta AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0
      UNION ALL
      SELECT doc_id + 1000000, text FROM documents
      WHERE doc_id % 10 <> 0 AND doc_id % 37 = 0
    ), shc AS (
      {_grams_select("corpus")}
    ), shd AS (
      {_grams_select("delta")}
    ), exc AS (
      SELECT doc_id, unnest(grams) AS g FROM shc
    ), exd AS (
      SELECT doc_id, unnest(grams) AS g FROM shd
    ), shared AS (
      SELECT d.doc_id AS did, c.doc_id AS cid, COUNT(*) AS c
      FROM exd d JOIN exc c ON d.g = c.g
      GROUP BY 1, 2
    ), confirmed AS (
      SELECT s.did, MIN(s.cid) AS match_id
      FROM shared s
      JOIN (SELECT doc_id, len(grams) AS n FROM shd) nd ON s.did = nd.doc_id
      JOIN (SELECT doc_id, len(grams) AS n FROM shc) nc ON s.cid = nc.doc_id
      WHERE CAST(s.c AS DOUBLE) / (nd.n + nc.n - s.c) >= 0.6
      GROUP BY s.did
    ), absorbed AS (
      SELECT match_id, CAST(COUNT(*) AS BIGINT) AS n_absorbed
      FROM confirmed GROUP BY match_id
    )
    SELECT c.doc_id, CAST(0 AS BIGINT) AS is_new,
           CAST(COALESCE(a.n_absorbed, 0) AS BIGINT) AS absorbed,
           CAST(LENGTH(COALESCE(c.text, '')) AS BIGINT) AS len_chars
    FROM corpus c LEFT JOIN absorbed a ON c.doc_id = a.match_id
    UNION ALL
    SELECT d.doc_id, CAST(1 AS BIGINT) AS is_new,
           CAST(0 AS BIGINT) AS absorbed,
           CAST(LENGTH(COALESCE(d.text, '')) AS BIGINT) AS len_chars
    FROM delta d LEFT JOIN confirmed m ON d.doc_id = m.did
    WHERE m.did IS NULL
    """


@_register("px7_incremental_corpus", _PX7_SQL)
def px7_incremental_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The nightly incremental-corpus loop, composed end-to-end: today's
    delta (the %10 slice plus planted clones of every 37th corpus doc at
    id+1_000_000) is LSH-probed against the standing corpus (d13's
    asymmetric probe — the corpus never self-joins), candidates are
    exact-confirmed at word-3-gram jaccard >= 0.6, and the decision
    MERGEs into the corpus state: WHEN MATCHED the surviving corpus doc
    absorbs the duplicate arrival (absorbed counter += matches, min-id
    survivor rule), WHEN NOT MATCHED the novel delta doc inserts. The
    released frame IS the post-merge corpus state — one row per final
    doc with (is_new, absorbed, len_chars) — so the driver hash
    certifies the exact state a production pipeline would persist, not
    just the per-delta decision (that is d13's row).

    100 TB shape: the probe equi-join on (band, band_hash) touches only
    the buckets the delta hits — cost ∝ |delta|, independent of corpus
    size (operators/dedup.py::lsh_probe_candidates_from_hashes); the
    exact confirm joins gram-hash arrays onto the (small) candidate list;
    the MERGE is ONE broadcast left join of the absorbed-counts frame
    (bounded by |delta|) onto the corpus plus a broadcast anti-join for
    novelty and a union — the corpus is scanned once and never shuffled
    on a key. Plan-audited: no
    BNLJ/cartesian, no corpus self-join. Reference parity: this replaces
    the reference's truncate-and-reload-the-whole-table pattern
    (Angelo_ETL_Task.py:276-374) with the loop that works at any scale;
    composes d13 (queries_wave119.py) with merge1's MERGE semantics
    (queries_wave118.py)."""
    from .operators.dedup import (
        gram_hashes_frame,
        jaccard_pairs_from_hashes,
        lsh_probe_candidates_from_hashes,
    )

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    # bounded 1-row agg: clone-offset guard (the sdd1 pattern)
    _max_id = d.agg(F.max("doc_id")).first()[0]
    if _max_id is None or _max_id >= 1_000_000:
        raise RuntimeError(
            f"px7 clone offset 1_000_000 collides with real doc_id space "
            f"(max={_max_id}); raise the offset on BOTH engine and oracle"
        )
    corpus = d.where(F.col("doc_id") % 10 != 0)
    clones = corpus.where(F.col("doc_id") % 37 == 0).select(
        (F.col("doc_id") + F.lit(1000000)).alias("doc_id"), "text"
    )
    delta = d.where(F.col("doc_id") % 10 == 0).unionByName(clones)
    # PREMISE GUARD (ADVICE r10): the engine confirms LSH-probed
    # candidates while the oracle confirms the exact gram-index pair
    # set, so the hash match rests on a MEASURED property of the data —
    # no (delta, corpus) pair's exact word-3-gram jaccard falls inside
    # (0.35, 0.75), the band where 16-band/64-hash LSH recall is not
    # ~certain (planted clones sit at 1.0, natural pairs at >= 0.75 or
    # <= 0.35 on every generated SF). d13 carried this caveat as a
    # comment; px7 enforces it at runtime: regenerated data violating
    # the margin RAISES here (premise failure, not an engine bug)
    # instead of red-hashing the driver sweep. Cost: one gram equi-join
    # the size of the oracle's own confirm stage — the audit a nightly
    # dedup loop should ship with anyway.
    #
    # Optimization r11 (guide §2.3/§2.4/§5): ONE normalize+tokenize+hash
    # pass per side, shared by the premise audit, the banded signatures,
    # the exact confirm, AND the final projections (len_chars rides the
    # same scan). Before: five full text passes (string-gram audit ×2,
    # banded signature build ×2, string-shingle confirm over delta∪corpus)
    # plus two extra parquet re-scans for the output lengths. The audit
    # and confirm now join 8-byte gram hashes instead of n-gram strings —
    # identical jaccards modulo in-pair xxhash64 collisions (~|grams|²/2⁶⁴;
    # oracle-verified tri-SF).
    len_chars = (
        F.length(F.coalesce(F.col("text"), F.lit("")))
        .cast("bigint")
        .alias("len_chars")
    )
    dh = gram_hashes_frame(delta, extra=[len_chars])
    ch = gram_hashes_frame(corpus, extra=[len_chars])
    dex = dh.select(
        F.col("doc_id").alias("did"),
        F.size("_bh").alias("na"),
        F.explode("_bh").alias("g"),
    )
    cex = ch.select(
        F.col("doc_id").alias("cid"),
        F.size("_bh").alias("nb"),
        F.explode("_bh").alias("g"),
    )
    jac = F.col("c") / (F.col("na") + F.col("nb") - F.col("c"))
    n_gap = (
        dex.join(cex, "g")
        .groupBy("did", "cid", "na", "nb")
        .agg(F.count(F.lit(1)).alias("c"))
        .where((jac > 0.35) & (jac < 0.75))
        .agg(F.count(F.lit(1)))
        .first()[0]
    )
    if n_gap:
        raise RuntimeError(
            f"px7 premise violated: {n_gap} (delta, corpus) pairs have "
            f"exact gram jaccard inside (0.35, 0.75) — LSH recall is not "
            f"construction-safe on this data; re-measure the margin "
            f"before trusting a red sweep"
        )
    cand = lsh_probe_candidates_from_hashes(dh, ch).select(
        F.col("probe_id").alias("id_a"), F.col("index_id").alias("id_b")
    )
    confirmed = (
        jaccard_pairs_from_hashes(dh, ch, cand, threshold=0.6)
        .groupBy("id_a")
        .agg(F.min("id_b").alias("match_id"))
        .localCheckpoint(eager=True)  # feeds the absorb agg AND the anti-join
    )
    absorbed = confirmed.groupBy("match_id").agg(
        F.count(F.lit(1)).alias("n_absorbed")
    )
    survivors = ch.join(
        F.broadcast(absorbed),
        ch["doc_id"] == absorbed["match_id"],
        "left",
    ).select(
        "doc_id",
        F.lit(0).cast("bigint").alias("is_new"),
        F.coalesce(F.col("n_absorbed"), F.lit(0))
        .cast("bigint")
        .alias("absorbed"),
        "len_chars",
    )
    inserts = dh.join(
        F.broadcast(confirmed),
        dh["doc_id"] == confirmed["id_a"],
        "left_anti",
    ).select(
        "doc_id",
        F.lit(1).cast("bigint").alias("is_new"),
        F.lit(0).cast("bigint").alias("absorbed"),
        "len_chars",
    )
    return survivors.unionByName(inserts)
