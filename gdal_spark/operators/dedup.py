"""Deduplication operators for web-scale corpora.

- ``exact_dup_groups``      — hash-groupBy exact dedup (one shuffle on the
  content hash; at 10^12 docs the hash is 32 bytes/row vs full text).
- ``minhash_signatures``    — MinHash over word shingles. Hash family:
  one md5 per *distinct* shingle folded to a 60-bit integer, then
  ``sig_j = min((a_j*h + b_j) mod p)`` with p = 2^31-1 — the classic
  universal-hash family. One cryptographic hash per shingle (not one per
  shingle per signature), the rest integer column math; deterministic and
  exactly reproducible in any SQL engine for oracles.
- ``lsh_candidate_pairs``   — banding: split the signature into bands,
  group by (band index, band key); docs sharing any band become candidate
  pairs. Shuffle is on the band key, so near-dup clusters co-locate.
  Buckets are capped at ``max_bucket`` members (smallest ids kept,
  deterministic): one boilerplate band key over 10^6 docs would otherwise
  self-join into 10^12 pairs — the cap bounds any bucket to
  max_bucket^2/2 pairs at a measured recall cost, the standard guard for
  skewed web corpora.
- ``ngram_jaccard_pairs``   — shingle-set Jaccard for candidate pairs via
  per-doc 60-bit hash arrays + array_intersect (no explode, no agg shuffle).
- ``simhash64``             — 64-bit SimHash from JVM md5 column hashes
  (batch-wide numpy vote fold; Hamming-distance dedup path).

At 100 TB: signatures are ~n_hashes × 8-byte strings per doc (tiny vs the
text); candidate pairs after banding are a small fraction of n^2, and the
Jaccard verify join only touches candidates.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def exact_dup_groups(df: DataFrame, text: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Groups of byte-identical texts: (text_hash, n_docs, min_doc_id)."""
    return (
        df.select(F.md5(F.col(text)).alias("text_hash"), F.col(id_col))
        .groupBy("text_hash")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min(id_col).alias("min_doc_id"))
        .filter(F.col("n_docs") > 1)
    )


# universal-hash family sig_j = (A[j]*h + B[j]) mod MINHASH_P over 60-bit
# shingle hashes; p = 2^31-1 keeps every product < 2^62 (overflow-free in
# both Spark longs and DuckDB BIGINTs, so oracles reproduce it bit-exactly)
MINHASH_P = 2147483647
MINHASH_A = [1093, 2039, 4093, 8191, 16381, 32749, 65521, 131071,
             262139, 524287, 1048573, 2097143, 4194301, 8388593,
             16777213, 33554393]
MINHASH_B = [12345, 54321, 7, 999983, 271828, 314159, 161803, 424242,
             777777, 123321, 456654, 789987, 135791, 246802, 975310, 864200]


def minhash_signatures(df: DataFrame, text: str = "text", id_col: str = "doc_id",
                       n_hashes: int = 8, shingle_n: int = 3) -> DataFrame:
    """(id, sig_0..sig_{n-1}) — universal-hash MinHash over distinct word
    shingles: h = first 60 bits of md5(shingle), sig_j = min((a_j*h+b_j)
    mod 2^31-1). One md5 per distinct shingle total; the n_hashes
    signatures are integer column math over the shared hash array (the
    intermediate ``_toks``/``_sh``/``_hs`` projections are separate
    selects so the tokenizer/shingler is never inlined into a
    per-element lambda — see text.shingle_array — and Catalyst does not
    inline the expensive transform n_hashes times).
    Docs with no shingles (shorter than shingle_n words) get null sigs."""
    from gdal_spark.functions.text import shingle_array, tokens
    tk = df.select(F.col(id_col), tokens(F.col(text)).alias("_toks"))
    shd = tk.select(
        F.col(id_col),
        F.array_distinct(shingle_array(F.col("_toks"), shingle_n))
        .alias("_sh"))
    hs = F.transform(
        F.col("_sh"),
        lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long"))
    base = shd.select(F.col(id_col), hs.alias("_hs"))
    p = F.lit(MINHASH_P)

    def sig(j):
        a, b = MINHASH_A[j], MINHASH_B[j]
        return F.array_min(F.transform(
            F.col("_hs"), lambda h: ((h % p) * a + b) % p)).alias(f"sig_{j}")

    return base.select(F.col(id_col), *[sig(j) for j in range(n_hashes)])


def lsh_candidate_pairs(sigs: DataFrame, id_col: str = "doc_id",
                        n_bands: int = 4, rows_per_band: int = 2,
                        max_bucket: int | None = 256) -> DataFrame:
    """Candidate near-dup pairs (id_a < id_b) sharing ≥1 LSH band.

    ``max_bucket`` caps each (band, key) bucket to its smallest ids before
    the self-join (row_number over the bucket — linear, not quadratic).
    Without it a single boilerplate band key over 10^6 docs yields 10^12
    pairs in one bucket; with it the worst bucket contributes at most
    max_bucket*(max_bucket-1)/2 pairs. Deterministic: the kept subset
    depends only on ids, so SQL oracles reproduce it exactly."""
    from pyspark.sql import Window as W
    keys = F.array(*[
        F.concat_ws("|", *[F.col(f"sig_{b * rows_per_band + r}")
                           for r in range(rows_per_band)])
        for b in range(n_bands)])
    # single pass: the signature columns are referenced exactly once (a
    # per-band union would recompute the signature subtree n_bands times,
    # and a self-join would double it again)
    keyed = (sigs.select(F.col(id_col).alias("_id"),
                         F.posexplode(keys).alias("_band", "_key"))
             .filter(F.col("_key") != ""))
    if max_bucket is not None:
        w = W.partitionBy("_band", "_key").orderBy("_id")
        keyed = (keyed.withColumn("_rn", F.row_number().over(w))
                 .filter(F.col("_rn") <= max_bucket))
    # pairs are generated bucket-locally (collect_list bounded by
    # max_bucket) — the exchange from the window is reused by the groupBy
    buckets = (keyed.groupBy("_band", "_key")
               .agg(F.sort_array(F.collect_list("_id")).alias("_ids"))
               .filter(F.size("_ids") >= 2))
    return (buckets.select(F.explode("_ids").alias("id_a"), "_ids")
            .select("id_a", F.explode("_ids").alias("id_b"))
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b").distinct())


def ngram_jaccard_pairs(df: DataFrame, pairs: DataFrame, text: str = "text",
                        id_col: str = "doc_id", shingle_n: int = 3) -> DataFrame:
    """Jaccard over distinct word shingles for the given id pairs.
    Output: (id_a, id_b, inter, size_a, size_b, jaccard).

    Each candidate doc's distinct shingle set is reduced ONCE to an array
    of 60-bit md5-prefix hashes (the same hash the minhash signatures
    use); per pair, ``inter = size(array_intersect(ha, hb))`` — pure array
    column math. Compared to the round-2 shingle-explode equi-join this
    ships 8 B/shingle instead of the shingle string, and removes both the
    per-(pair, shingle) join rows and the post-join count aggregation
    shuffle entirely. Jaccard over the hash sets equals shingle-set
    Jaccard absent 60-bit collisions (P ≈ n²/2⁶¹ per doc — the standard
    dedup-pipeline tradeoff; the SQL oracle mirrors the same hashes, so
    parity is exact by construction)."""
    ids = (pairs.select(F.col("id_a").alias("_id"))
           .unionByName(pairs.select(F.col("id_b").alias("_id"))).distinct())
    # prune to candidate docs BEFORE shingling (the id semi-join reaches
    # the scan, so only candidates are hashed). Callers should materialize
    # `pairs` (cache/localCheckpoint) — it is referenced three times.
    from gdal_spark.functions.text import shingle_array, tokens
    ha = F.transform(
        F.array_distinct(shingle_array(F.col("_toks"), shingle_n)),
        lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long"))
    # cached: referenced by both pair sides — hash each candidate once.
    # tokens materialized in their own select (see text.shingle_array)
    cand = (df.select(F.col(id_col).alias("_id"), F.col(text).alias("_t"))
            .join(ids, on="_id")
            .select("_id", tokens(F.col("_t")).alias("_toks"))
            .select("_id", ha.alias("_ha")).cache())
    out = (pairs
           .join(cand.select(F.col("_id").alias("id_a"), F.col("_ha").alias("_haa")),
                 on="id_a")
           .join(cand.select(F.col("_id").alias("id_b"), F.col("_ha").alias("_hab")),
                 on="id_b")
           .select("id_a", "id_b",
                   F.size(F.array_intersect("_haa", "_hab")).alias("inter"),
                   F.size("_haa").alias("size_a"),
                   F.size("_hab").alias("size_b")))
    return out.withColumn(
        "jaccard",
        F.round(F.col("inter") / (F.col("size_a") + F.col("size_b") - F.col("inter")), 6))


def winnow_fingerprints(df: DataFrame, text: str = "text",
                        id_col: str = "doc_id", k: int = 3,
                        window: int = 4) -> DataFrame:
    """Winnowing document fingerprints (Schleimer et al.): k-gram hashes,
    per-window minima, distinct minima = the fingerprint set. All column
    math (md5 → 60-bit int via conv), so oracles reproduce it exactly.
    Output: (id, fp) exploded fingerprint rows."""
    from pyspark.sql import Window as W
    from gdal_spark.functions.text import shingle_array, tokens
    grams = df.select(
        F.col(id_col), tokens(F.col(text)).alias("_toks")
    ).select(
        F.col(id_col),
        F.posexplode(shingle_array(F.col("_toks"), k)).alias("_i", "_g"))
    h = F.conv(F.substring(F.md5(F.col("_g")), 1, 15), 16, 10).cast("long")
    grams = grams.withColumn("_h", h)
    part = W.partitionBy(id_col)
    win = part.orderBy("_i").rowsBetween(0, window - 1)
    grams = (grams.withColumn("_n", F.count(F.lit(1)).over(part))
             .withColumn("_m", F.min("_h").over(win))
             .filter(F.col("_i") <= F.greatest(F.col("_n") - window, F.lit(0))))
    return grams.select(F.col(id_col), F.col("_m").alias("fp")).distinct()


def simhash64(df: DataFrame, text: str = "text", id_col: str = "doc_id",
              shingle_n: int = 2) -> DataFrame:
    """64-bit SimHash per doc from md5 bit-votes of word shingles.

    Shingle hashing is JVM column math: md5 hex → two 32-bit halves via
    ``conv`` (the same first-8-bytes-big-endian value the DuckDB oracle
    parses as UBIGINT). The Arrow pass only folds the bit votes, vectorized
    across the WHOLE batch (flatten → ``np.add.reduceat`` segment sums) —
    no hashlib, no per-row hashing loop."""
    from gdal_spark.functions.text import shingle_array, tokens
    half = lambda m, p: F.conv(F.substring(m, p, 8), 16, 10).cast("long")
    base = (df.select(F.col(id_col), tokens(F.col(text)).alias("_toks"))
            .select(F.col(id_col),
                    F.array_distinct(shingle_array(F.col("_toks"), shingle_n))
                    .alias("_sh"))
            .select(F.col(id_col), F.transform("_sh", F.md5).alias("_md"))
            .select(F.col(id_col),
                    F.transform(F.col("_md"), lambda m: half(m, 1)).alias("_hi"),
                    F.transform(F.col("_md"), lambda m: half(m, 9)).alias("_lo")))
    schema = f"{id_col} long, simhash long"
    bitpos = np.arange(64, dtype=np.uint64)[None, :]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = len(pdf)
            his, los = pdf["_hi"], pdf["_lo"]
            lens = np.fromiter((0 if h is None else len(h) for h in his),
                               dtype=np.int64, count=n)
            votes = np.zeros((n, 64), dtype=np.int64)
            nz = lens > 0
            if nz.any():
                hsv = ((np.concatenate([np.asarray(h, dtype=np.uint64)
                                        for h in his[nz]]) << np.uint64(32))
                       | np.concatenate([np.asarray(l, dtype=np.uint64)
                                         for l in los[nz]]))
                bits = ((hsv[:, None] >> bitpos) & np.uint64(1)).astype(np.int64)
                starts = np.zeros(n, dtype=np.int64)
                starts[1:] = np.cumsum(lens)[:-1]
                votes[nz] = np.add.reduceat(bits, starts[nz], axis=0)
            set_bits = (votes * 2 > lens[:, None]).astype(np.uint64)
            out = np.bitwise_or.reduce(set_bits << bitpos, axis=1)
            yield pd.DataFrame({id_col: pdf[id_col],
                                "simhash": out.view(np.int64)})

    return base.mapInPandas(run, schema=schema)
