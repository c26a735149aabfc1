"""Similarity search over embedding columns (``array<float>``).

Every tier takes its query vector as a (single-row) DataFrame, joined
in-plan by broadcast, so a lookup is one lazy Spark job with no
driver-side ``.first()``:

* :func:`cosine_topk_df` — brute-force exact top-k, pure JVM column
  expressions (``zip_with`` dot product + ``aggregate`` fold — whole-stage
  codegen, no Python).  The baseline and the verifier for the approximate
  tiers.  Scale shape: narrow map + a single ``LIMIT k`` ordering (Spark
  executes it as per-partition top-k + driver merge —
  TakeOrderedAndProject — not a global sort).
* :func:`lsh_bucket_ann_df` — random-hyperplane LSH: sign signature per
  vector (fixed seed), candidates = the Hamming ball around the query's
  signature, exact cosine re-rank inside the candidate set.
* :func:`ivf_topk_df` — IVF: k-means inverted lists
  (:func:`ivf_assign`), exact re-rank inside the ``nprobe`` nearest lists.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, x: acc + x)


def _norm2(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine_sim(a: Column, b: Column) -> Column:
    """Cosine similarity of two array columns, computed in float64."""
    da = F.transform(a, lambda x: x.cast("double"))
    db = F.transform(b, lambda x: x.cast("double"))
    return _dot(da, db) / (_norm2(da) * _norm2(db))


def cosine_topk_df(df: DataFrame, query_df: DataFrame, k: int = 10,
                   vec_col: str = "embedding", id_col: str = "vec_id",
                   ) -> DataFrame:
    """Exact top-k where the query vector is a (single-row) DataFrame —
    joined in-plan via broadcast, so the whole lookup is ONE Spark job with
    no driver-side ``.first()`` round trip (an extra eager job per call at
    scale, and a serialization point in orchestrated pipelines)."""
    q = F.broadcast(query_df.select(F.col(vec_col).alias("__q_vec")))
    scored = df.crossJoin(q).select(
        F.col(id_col),
        cosine_sim(F.col(vec_col), F.col("__q_vec")).alias("cosine"),
    )
    return scored.orderBy(F.desc("cosine"), F.asc(id_col)).limit(k)


# ---------------------------------------------------------------------------
# LSH-bucketed approximate tier
# ---------------------------------------------------------------------------


def _hyperplanes(dim: int, n_bits: int = 16, seed: int = 42):
    import numpy as np

    rng = np.random.RandomState(seed)
    return rng.standard_normal((n_bits, dim))


def rp_signature_udf(dim: int, n_bits: int = 16, seed: int = 42):
    """Vectorized random-projection sign signature (Arrow-batched numpy).
    Up to 64 bits packed into a LongType (bit 63 lands in the sign — fine:
    banding reads it back with unsigned shifts)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import LongType

    if not 1 <= n_bits <= 64:
        raise ValueError(f"n_bits={n_bits} must be in [1, 64]")
    planes = _hyperplanes(dim, n_bits, seed)

    def fn(vecs):
        mat = np.stack(vecs.map(lambda v: np.asarray(v, dtype=np.float64)))
        signs = (mat @ planes.T) > 0  # (n, n_bits)
        sig = np.zeros(len(mat), dtype=np.uint64)
        for b in range(n_bits):
            sig |= signs[:, b].astype(np.uint64) << np.uint64(b)
        return pd.Series(sig.astype(np.int64))

    return F.pandas_udf(fn, LongType())


def lsh_bucket_ann_df(df: DataFrame, query_df: DataFrame, k: int = 10,
                      vec_col: str = "embedding", id_col: str = "vec_id",
                      n_bits: int = 16, seed: int = 42, dim: int = 64,
                      max_hamming: int = 2) -> DataFrame:
    """Approximate top-k with the query vector supplied as a (single-row)
    DataFrame: the query's signature is computed in-plan by the same UDF and
    multiprobe becomes a ``bit_count(sig ^ qsig) <= max_hamming`` predicate
    on the broadcast-joined row — one Spark job, no driver ``.first()``.

    The predicate scans every signature (it cannot prune a
    signature-bucketed table statically, which literal probe values
    could) but keeps the whole lookup lazy/composable.  Candidates =
    Hamming ball of radius ``max_hamming`` around the query signature
    (multiprobe with that flip budget), exact cosine re-rank inside."""
    sig_udf = rp_signature_udf(dim, n_bits, seed)
    q = F.broadcast(
        query_df.select(F.col(vec_col).alias("__q_vec"))
                .withColumn("__q_sig", sig_udf(F.col("__q_vec"))))
    signed = df.withColumn("sig", sig_udf(F.col(vec_col)))
    cand = (signed.crossJoin(q)
            .where(F.expr("bit_count(sig ^ __q_sig)") <= max_hamming))
    scored = cand.select(
        F.col(id_col),
        cosine_sim(F.col(vec_col), F.col("__q_vec")).alias("cosine"))
    return scored.orderBy(F.desc("cosine"), F.asc(id_col)).limit(k)


# ---------------------------------------------------------------------------
# IVF (inverted-file) approximate tier
# ---------------------------------------------------------------------------


def ivf_assign(df: DataFrame, n_lists: int = 16, seed: int = 42,
               vec_col: str = "embedding", id_col: str = "vec_id",
               max_iter: int = 20):
    """Build the IVF coarse quantizer: k-means centroids over the corpus
    (Spark ML, seeded) and the per-vector inverted-list assignment.

    Returns ``(centroids, assigned)`` where ``centroids`` is a plain
    ``list[list[float]]`` (index = list id) and ``assigned`` is the input
    plus an integer ``list_id`` column.  At 10^9 vectors the assigned
    table is written partitioned/bucketed by ``list_id`` so a probe reads
    ``nprobe`` lists instead of the corpus — the classic IVF layout; this
    is INDEX BUILD (one k-means job), not per-query work."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    dfv = df.withColumn(
        "__vec",
        array_to_vector(F.transform(F.col(vec_col),
                                    lambda x: x.cast("double"))))
    km = KMeans(k=n_lists, seed=seed, maxIter=max_iter,
                featuresCol="__vec", predictionCol="list_id")
    model = km.fit(dfv)
    centroids = [
        (c.toArray() if hasattr(c, "toArray") else c).tolist()
        for c in model.clusterCenters()
    ]
    assigned = model.transform(dfv).drop("__vec")
    return centroids, assigned


def ivf_topk_df(assigned: DataFrame, centroids: list[list[float]],
                query_df: DataFrame, k: int = 10, nprobe: int = 4,
                vec_col: str = "embedding", id_col: str = "vec_id",
                ) -> DataFrame:
    """IVF probe with the query vector joined IN-PLAN (no driver-side
    ``.first()`` — the whole lookup is one Spark job, same discipline as
    :func:`cosine_topk_df`).  The centroid table is index metadata already
    living on the driver (``n_lists`` rows from the k-means build), so it
    embeds as literals; the *query-dependent* part — ranking centroids and
    picking the ``nprobe`` nearest lists — runs as Catalyst expressions on
    the broadcast single-row query, then a cheap broadcast join prunes the
    corpus to those lists before the exact cosine re-rank."""
    cents = F.array(*[
        F.array(*[F.lit(float(x)) for x in c]) for c in centroids])
    q = query_df.select(
        F.transform(F.col(vec_col),
                    lambda x: x.cast("double")).alias("__q_vec"))
    # (squared distance, list_id) per centroid, sorted: nprobe nearest lists
    dists = F.transform(
        cents,
        lambda c, i: F.struct(
            F.aggregate(F.zip_with(c, F.col("__q_vec"),
                                   lambda x, y: (x - y) * (x - y)),
                        F.lit(0.0), lambda acc, x: acc + x).alias("d"),
            i.alias("lid")))
    q = q.withColumn(
        "__probes",
        F.transform(F.slice(F.array_sort(dists), 1, nprobe),
                    lambda s: s["lid"]))
    cand = assigned.join(
        F.broadcast(q),
        F.array_contains(F.col("__probes"), F.col("list_id")))
    scored = cand.select(
        F.col(id_col),
        cosine_sim(F.col(vec_col), F.col("__q_vec")).alias("cosine"),
    )
    return scored.orderBy(F.desc("cosine"), F.asc(id_col)).limit(k)


def quantize_embeddings(df: DataFrame, vec_col: str = "embedding",
                        ) -> DataFrame:
    """Symmetric per-vector int8 quantization — the storage tier for
    embedding corpora (4× smaller than float32, 8× than float64; at 10^12
    vectors the scan-size saving IS the query latency).  Adds ``q_scale``
    (per-vector max-abs) and ``q_vec`` (int8-range integers); dequantize
    as ``q * q_scale / 127``.  Pure column expressions (whole-stage
    codegen); rounding is ``floor(x + 0.5)`` — identical semantics in
    every engine, unlike round()'s engine-varying half-even/half-up — so
    the DuckDB oracle can value-check each component."""
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    scale = F.array_max(F.transform(v, F.abs))
    q = F.transform(
        v, lambda x: F.floor(x / scale * 127.0 + 0.5).cast("int"))
    return (df.withColumn("q_scale", scale)
            .withColumn("q_vec",
                        F.when(scale > 0.0, q).otherwise(
                            F.transform(v, lambda x: F.lit(0)))))
