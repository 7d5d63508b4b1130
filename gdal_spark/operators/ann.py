"""Similarity search over embedding columns (array<float>).

- ``cosine_topk_bruteforce`` — exact top-k cosine: broadcast the (small)
  query side, cross-join, dot/norm via ``F.aggregate``/``F.zip_with``
  column folds (JVM-side, no Python), window top-k. The baseline.
- ``cosine_topk_lsh``        — scale path: sign-random-projection buckets
  (SimHash for vectors); queries probe only their bucket (+ optional
  multi-probe neighbors). Bucket key is computed with a deterministic
  pseudo-random hyperplane family derived from xxhash64 — identical across
  runs and cluster sizes.

Similarity is rounded to 6 decimals with (sim desc, id) ordering so results
are deterministic and oracle-reproducible despite float summation order.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, x: acc + x)


def _norm(a):
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x),
                              F.lit(0.0), lambda acc, x: acc + x))


def cosine_topk_bruteforce(queries: DataFrame, data: DataFrame, k: int,
                           q_id: str = "qid", d_id: str = "vec_id",
                           vec: str = "embedding") -> DataFrame:
    """Exact cosine top-k. Output: (q_id, d_id, sim, rank). Embeddings are
    cast to double before any arithmetic (stable across engines)."""
    qv = F.transform(F.col(vec), lambda x: x.cast("double"))
    q = queries.select(F.col(q_id), qv.alias("_qv"))
    d = data.select(F.col(d_id), qv.alias("_dv"))
    # Intentional broadcast cross join: exact top-k scores every (query,
    # vector) pair. The broadcast side is the query set, bounded by
    # |queries|; the data side streams, so the plan's
    # BroadcastNestedLoopJoin is by design, not a missed equi-join.
    paired = F.broadcast(q).crossJoin(d)
    sim = F.round(_dot(F.col("_qv"), F.col("_dv"))
                  / (_norm(F.col("_qv")) * _norm(F.col("_dv"))), 6)
    w = Window.partitionBy(q_id).orderBy(F.desc("sim"), F.col(d_id))
    return (paired.withColumn("sim", sim)
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(q_id, d_id, "sim", "rank"))


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim))


def srp_bucket(df: DataFrame, id_col: str, vec: str, n_planes: int = 8,
               seed: int = 42) -> DataFrame:
    """Sign-random-projection bucket id per vector (one Arrow pass)."""
    out_schema = f"{id_col} long, bucket int"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        planes = None
        for pdf in batches:
            mat = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec]]) \
                if len(pdf) else np.zeros((0, 1))
            if planes is None and len(pdf):
                planes = _hyperplanes(mat.shape[1], n_planes, seed)
            if len(pdf):
                signs = (mat @ planes.T) > 0
                bucket = (signs.astype(np.int64)
                          << np.arange(n_planes, dtype=np.int64)).sum(axis=1)
            else:
                bucket = np.zeros(0, dtype=np.int64)
            yield pd.DataFrame({id_col: pdf[id_col], "bucket": bucket.astype(np.int32)})

    return df.select(id_col, vec).mapInPandas(run, schema=out_schema)


def srp_probe_buckets(df: DataFrame, id_col: str, vec: str,
                      n_planes: int = 8, seed: int = 42,
                      n_probes: int = 1) -> DataFrame:
    """Multi-probe SRP buckets for the query side: the vector's own bucket
    plus the ``n_probes - 1`` Hamming-1 neighbors whose hyperplane margin
    |proj| is smallest — the classic multi-probe LSH order (flip the bits
    the vector was closest to crossing). One Arrow pass, ≤ n_probes rows
    per query."""
    out_schema = f"{id_col} long, bucket int"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        planes = None
        for pdf in batches:
            if not len(pdf):
                yield pd.DataFrame({id_col: pdf[id_col],
                                    "bucket": np.zeros(0, dtype=np.int32)})
                continue
            mat = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec]])
            if planes is None:
                planes = _hyperplanes(mat.shape[1], n_planes, seed)
            proj = mat @ planes.T
            base = (((proj > 0).astype(np.int64)
                     << np.arange(n_planes, dtype=np.int64)).sum(axis=1))
            ids = pdf[id_col].to_numpy()
            out_ids = [ids]
            out_buckets = [base]
            if n_probes > 1:
                order = np.argsort(np.abs(proj), axis=1, kind="stable")
                for r in range(min(n_probes - 1, n_planes)):
                    out_ids.append(ids)
                    out_buckets.append(base ^ (1 << order[:, r]))
            yield pd.DataFrame({
                id_col: np.concatenate(out_ids),
                "bucket": np.concatenate(out_buckets).astype(np.int32)})

    return df.select(id_col, vec).mapInPandas(run, schema=out_schema)


def cosine_topk_lsh(queries: DataFrame, data: DataFrame, k: int,
                    q_id: str = "qid", d_id: str = "vec_id",
                    vec: str = "embedding", n_planes: int = 6,
                    seed: int = 42, n_probes: int = 1) -> DataFrame:
    """Approximate cosine top-k: equi-join on SRP bucket, exact rerank inside
    the bucket. Recall grows as n_planes shrinks (bigger buckets) or as
    ``n_probes`` grows (each query additionally probes its nearest
    Hamming-1 buckets; data vectors still live in exactly one bucket, so
    probe fan-out multiplies only the query side)."""
    qb = srp_probe_buckets(queries, q_id, vec, n_planes, seed, n_probes)
    db = srp_bucket(data, d_id, vec, n_planes, seed)
    qv = F.transform(F.col(vec), lambda x: x.cast("double"))
    q = queries.select(F.col(q_id), qv.alias("_qv")).join(qb, on=q_id)
    d = data.select(F.col(d_id), qv.alias("_dv")).join(db, on=d_id)
    paired = q.join(d, on="bucket")
    sim = F.round(_dot(F.col("_qv"), F.col("_dv"))
                  / (_norm(F.col("_qv")) * _norm(F.col("_dv"))), 6)
    w = Window.partitionBy(q_id).orderBy(F.desc("sim"), F.col(d_id))
    return (paired.withColumn("sim", sim)
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(q_id, d_id, "sim", "rank"))


def cosine_topk_ivf(queries: DataFrame, data: DataFrame, k: int,
                    q_id: str = "qid", d_id: str = "vec_id",
                    vec: str = "embedding", n_centroids: int = 16,
                    n_probe: int = 4) -> DataFrame:
    """IVF-flat approximate cosine top-k (the inverted-file ANN scale
    path): a coarse quantizer of ``n_centroids`` centroids — seeded
    deterministically as the lowest-id data vectors, so the structure is
    oracle-reproducible without a k-means iteration — assigns every data
    vector to exactly ONE inverted list (argmax centroid cosine, ties to
    the smaller centroid id); each query probes its ``n_probe`` nearest
    lists and exact-reranks inside them.

    Scale shape: centroids are a driver-side constant folded into the
    expression tree (like the broadcast polygon side of the PIP join);
    list assignment is pure JVM column math (no shuffle, no UDF); the
    probe fan-out multiplies only the query side; one equi-join on the
    list id replaces the brute-force cross join."""
    dv = F.transform(F.col(vec), lambda x: x.cast("double"))

    # driver-side centroid constants, normalized with SEQUENTIAL float64
    # sums (matches F.aggregate / DuckDB list_aggregate fold order, so
    # both engines see bit-identical unit vectors)
    rows = (data.filter(F.col(d_id) < n_centroids)
            .select(F.col(d_id).alias("cid"), dv.alias("_cv"))
            .orderBy("cid").collect())
    cents = []
    for r in rows:
        s = 0.0
        for x in r._cv:
            s += x * x
        nrm = s ** 0.5
        cents.append((int(r.cid), [x / nrm for x in r._cv]))

    def dots(col):
        # per-centroid dot products against the unit centroids; |v| is
        # constant across centroids so argmax(dot) == argmax(cosine)
        entries = []
        for cid, cv in cents:
            lit = F.array(*[F.lit(float(x)) for x in cv])
            d = F.aggregate(F.zip_with(col, lit, lambda a, b: a * b),
                            F.lit(0.0), lambda acc, x: acc + x)
            entries.append(F.struct(d.alias("s"), F.lit(-cid).alias("nc")))
        return F.array(*entries)

    assigned = data.select(
        F.col(d_id), dv.alias("_dv"),
        (-F.array_max(dots(dv)).getField("nc")).cast("int").alias("cid"))
    probes = (queries.select(F.col(q_id), dv.alias("_qv"),
                             F.slice(F.sort_array(dots(dv), asc=False),
                                     1, n_probe).alias("_pr"))
              .withColumn("_p", F.explode("_pr"))
              .select(q_id, "_qv",
                      (-F.col("_p.nc")).cast("int").alias("cid")))
    paired = probes.join(assigned, on="cid")
    sim = F.round(_dot(F.col("_qv"), F.col("_dv"))
                  / (_norm(F.col("_qv")) * _norm(F.col("_dv"))), 6)
    w = Window.partitionBy(q_id).orderBy(F.desc("sim"), F.col(d_id))
    return (paired.withColumn("sim", sim)
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(q_id, d_id, "sim", "rank"))


def embedding_neardup_pairs(data: DataFrame, threshold: float = 0.9,
                            d_id: str = "vec_id", vec: str = "embedding",
                            n_planes: int = 8, n_bands: int = 2,
                            seed: int = 42, cap: int = 256) -> DataFrame:
    """Embedding-cosine near-duplicate PAIRS (the dedup-by-embedding path,
    complementing MinHash/SimHash text dedup): ``n_bands`` independent
    sign-random-projection bucketings (seeds ``seed..seed+n_bands-1``)
    generate candidate pairs from same-bucket co-membership in ANY band;
    exact cosine >= ``threshold`` verifies survivors.

    Scale shape (mirrors the MinHash-LSH banding design,
    operators/dedup.py lsh_candidate_pairs): each vector lands in exactly
    ``n_bands`` buckets; within a (band, bucket) only the first ``cap``
    members (by id) pair up, killing the degenerate-bucket n^2 blowout;
    pairs dedup on (id_a, id_b) BEFORE the embedding join, so the
    verify-stage shuffle carries each candidate once.

    Output: (id_a, id_b, sim) with id_a < id_b, sim rounded to 6 dp."""
    buckets = None
    for b in range(n_bands):
        bb = (srp_bucket(data, d_id, vec, n_planes, seed + b)
              .withColumn("band", F.lit(b)))
        buckets = bb if buckets is None else buckets.unionByName(bb)
    w = Window.partitionBy("band", "bucket").orderBy(d_id)
    capped = (buckets.withColumn("_rn", F.row_number().over(w))
              .filter(F.col("_rn") <= cap))
    lhs = capped.select("band", "bucket", F.col(d_id).alias("id_a"))
    rhs = capped.select("band", "bucket", F.col(d_id).alias("id_b"))
    cand = (lhs.join(rhs, on=["band", "bucket"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b").distinct())
    dv = F.transform(F.col(vec), lambda x: x.cast("double"))
    unit = data.select(
        F.col(d_id),
        F.transform(dv, lambda x: x / _norm(dv)).alias("_uv"))
    ea = unit.select(F.col(d_id).alias("id_a"), F.col("_uv").alias("_va"))
    eb = unit.select(F.col(d_id).alias("id_b"), F.col("_uv").alias("_vb"))
    sim = F.round(_dot(F.col("_va"), F.col("_vb")), 6)
    return (cand.join(ea, on="id_a").join(eb, on="id_b")
            .withColumn("sim", sim)
            .filter(F.col("sim") >= threshold)
            .select("id_a", "id_b", "sim"))
