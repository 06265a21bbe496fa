"""Similarity search over the `embeddings` table (array<float>, 64-d).

Two paths, mirroring production vector-search design:
- `knn_bruteforce`: exact cosine top-k — the correctness baseline.
  One narrow scan + per-row O(d) arithmetic + TakeOrdered(k). Linear,
  embarrassingly parallel; at 100 TB this is the "rerank" stage.
- `ann_lsh`: sign-projection LSH bucket prefilter, then exact cosine
  only within the query's bucket — the scale path. Bucketing is
  deterministic and SQL-expressible so the DuckDB oracle verifies it
  exactly (vs. random-hyperplane variants whose planes would need a
  shared RNG).

The query vector is fetched by key (vec_id=0) and inlined as a literal
— the distributed equivalent of broadcasting a parameter; the scan
that fetches it is a single-row key lookup, not a data-path collect.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dpu_olap_spark.functions.vectors import (
    cosine_sim,
    dot,
    l2_norm,
    sign_bucket,
    sign_bucket_value,
)
from dpu_olap_spark.registry import query
from dpu_olap_spark.sources.tables import load_table

_QUERY_VEC_ID = 0
_TOP_K = 20

# DuckDB side of the double-precision dot/cosine: parallel unnest of the
# two lists zips them positionally; accumulate in DOUBLE, round to 4.
_ORACLE_SIMS = f"""
    q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = {_QUERY_VEC_ID}),
    pairs AS (
      SELECT e.vec_id, unnest(e.embedding) AS a, unnest(q.qv) AS b
      FROM embeddings e, q
      WHERE e.vec_id <> {_QUERY_VEC_ID}
    ),
    sims AS (
      SELECT vec_id,
        SUM(CAST(a AS DOUBLE) * CAST(b AS DOUBLE)) AS dp,
        SUM(CAST(a AS DOUBLE) * CAST(a AS DOUBLE)) AS na,
        SUM(CAST(b AS DOUBLE) * CAST(b AS DOUBLE)) AS nb
      FROM pairs GROUP BY vec_id
    )
"""


def _query_vec(spark: SparkSession, sf_dir: str) -> list:
    """The query embedding's values, fetched by key (one Spark job)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.where(F.col("vec_id") == _QUERY_VEC_ID).select("embedding").first()[0]


def _vec_literal(values: list) -> F.Column:
    return F.array(*[F.lit(float(x)) for x in values])


@query(
    "knn_bruteforce",
    oracle=f"""
    WITH {_ORACLE_SIMS}
    SELECT vec_id, round(dp / (sqrt(na) * sqrt(nb)), 4) AS cos_sim
    FROM sims
    ORDER BY cos_sim DESC, vec_id ASC
    LIMIT {_TOP_K}
    """,
)
def q_knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-20 by cosine to the vec_id=0 embedding."""
    emb = load_table(spark, sf_dir, "embeddings")
    qv = _vec_literal(_query_vec(spark, sf_dir))
    return (
        emb.where(F.col("vec_id") != _QUERY_VEC_ID)
        .select("vec_id", cosine_sim(F.col("embedding"), qv).alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id").asc())
        .limit(_TOP_K)
    )


@query(
    "ann_lsh",
    oracle=f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = {_QUERY_VEC_ID}),
    bucketed AS (
      SELECT vec_id, embedding,
        CAST(
          (CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END)
          + (CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END)
          + (CASE WHEN embedding[3] > 0 THEN 4 ELSE 0 END)
          + (CASE WHEN embedding[4] > 0 THEN 8 ELSE 0 END)
          + (CASE WHEN embedding[5] > 0 THEN 16 ELSE 0 END)
          + (CASE WHEN embedding[6] > 0 THEN 32 ELSE 0 END)
          + (CASE WHEN embedding[7] > 0 THEN 64 ELSE 0 END)
          + (CASE WHEN embedding[8] > 0 THEN 128 ELSE 0 END) AS INT) AS bucket
      FROM embeddings
    ),
    qb AS (SELECT bucket AS qbucket FROM bucketed WHERE vec_id = {_QUERY_VEC_ID}),
    cand AS (
      SELECT b.vec_id, b.embedding, b.bucket
      FROM bucketed b, qb
      WHERE b.bucket = qb.qbucket AND b.vec_id <> {_QUERY_VEC_ID}
    ),
    pairs AS (
      SELECT c.vec_id, c.bucket, unnest(c.embedding) AS a, unnest(q.qv) AS b
      FROM cand c, q
    ),
    sims AS (
      SELECT vec_id, bucket,
        SUM(CAST(a AS DOUBLE) * CAST(b AS DOUBLE)) AS dp,
        SUM(CAST(a AS DOUBLE) * CAST(a AS DOUBLE)) AS na,
        SUM(CAST(b AS DOUBLE) * CAST(b AS DOUBLE)) AS nb
      FROM pairs GROUP BY vec_id, bucket
    )
    SELECT vec_id, bucket, round(dp / (sqrt(na) * sqrt(nb)), 4) AS cos_sim
    FROM sims
    ORDER BY cos_sim DESC, vec_id ASC
    LIMIT 10
    """,
)
def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN: prune to the query's LSH bucket (expected corpus/256), then
    exact cosine top-10 within it. At scale the table would be written
    bucketed/partitioned BY this key so the scan prunes to one bucket.
    The query's bucket is a pure function of its vector, so it is
    computed on the driver from the values already fetched."""
    emb = load_table(spark, sf_dir, "embeddings")
    values = _query_vec(spark, sf_dir)
    qv = _vec_literal(values)
    qbucket = sign_bucket_value(values, 8)
    bucketed = emb.withColumn("bucket", sign_bucket(F.col("embedding"), 8))
    return (
        bucketed.where((F.col("bucket") == qbucket) & (F.col("vec_id") != _QUERY_VEC_ID))
        .select("vec_id", "bucket", cosine_sim(F.col("embedding"), qv).alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id").asc())
        .limit(10)
    )


@query(
    "vector_stats",
    oracle="""
    WITH flat AS (
      SELECT vec_id, label, len(embedding) AS n_dims, unnest(embedding) AS x
      FROM embeddings
    ),
    per_vec AS (
      SELECT vec_id, label, n_dims,
             SUM(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) AS sq
      FROM flat GROUP BY vec_id, label, n_dims
    )
    SELECT label,
           COUNT(*) AS n_vecs,
           CAST(MIN(n_dims) AS INT) AS min_dims,
           CAST(MAX(n_dims) AS INT) AS max_dims,
           round(MIN(sqrt(sq)), 4) AS min_norm,
           round(MAX(sqrt(sq)), 4) AS max_norm
    FROM per_vec GROUP BY label
    """,
)
def q_vector_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding sanity stats (dims, norm range) — min/max are
    order-independent, so no decimal dance needed."""
    emb = load_table(spark, sf_dir, "embeddings")
    norm = l2_norm(F.col("embedding"))
    return (
        emb.select(
            "label", F.size("embedding").alias("n_dims"), norm.alias("norm")
        )
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.min("n_dims").alias("min_dims"),
            F.max("n_dims").alias("max_dims"),
            F.round(F.min("norm"), 4).alias("min_norm"),
            F.round(F.max("norm"), 4).alias("max_norm"),
        )
    )


@query(
    "embedding_neardup",
    oracle="""
    WITH bucketed AS (
      SELECT vec_id, embedding,
        CAST(
          (CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END)
          + (CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END)
          + (CASE WHEN embedding[3] > 0 THEN 4 ELSE 0 END)
          + (CASE WHEN embedding[4] > 0 THEN 8 ELSE 0 END)
          + (CASE WHEN embedding[5] > 0 THEN 16 ELSE 0 END)
          + (CASE WHEN embedding[6] > 0 THEN 32 ELSE 0 END) AS INT) AS bucket
      FROM embeddings
    ),
    cand AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             a.embedding AS ea, b.embedding AS eb
      FROM bucketed a JOIN bucketed b
        ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    ),
    flat AS (
      SELECT vec_a, vec_b, unnest(ea) AS x, unnest(eb) AS y FROM cand
    ),
    sims AS (
      SELECT vec_a, vec_b,
        SUM(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) AS dp,
        SUM(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) AS nx,
        SUM(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)) AS ny
      FROM flat GROUP BY vec_a, vec_b
    )
    SELECT vec_a, vec_b, round(dp / (sqrt(nx) * sqrt(ny)), 4) AS cos_sim
    FROM sims
    WHERE round(dp / (sqrt(nx) * sqrt(ny)), 4) >= 0.35
    """,
)
def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via bucketed self-join
    (6-bit sign LSH -> exact cosine within bucket). The bucket equality
    is the join key, so the self-join shuffles by bucket and compares
    only within buckets — sub-quadratic, the embedding analog of the
    MinHash band join in llm/dedup.py."""
    emb = load_table(spark, sf_dir, "embeddings")
    bucketed = emb.withColumn("bucket", sign_bucket(F.col("embedding"), 6))
    a = bucketed.select(
        F.col("vec_id").alias("vec_a"), F.col("embedding").alias("ea"), "bucket"
    )
    b = bucketed.select(
        F.col("vec_id").alias("vec_b"), F.col("embedding").alias("eb"), "bucket"
    )
    sim = cosine_sim(F.col("ea"), F.col("eb"))
    return (
        a.join(b, "bucket")
        .where(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b", sim.alias("cos_sim"))
        .where(F.col("cos_sim") >= 0.35)
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — the second scale path besides sign-LSH.
# Deterministic "training": the 16 vectors with vec_id < 16 act as
# centroids (a real deployment would k-means sample; determinism matters
# more here so the DuckDB oracle can reproduce assignment exactly).
# Centroids ride into the plan as literals (parameter broadcast, no
# join); assignment is argmin over squared-L2 with (dist, cid)
# tie-breaking, distances rounded to 6 to absorb fold-order ULPs.
# ---------------------------------------------------------------------------

_N_CENTROIDS = 16

_IVF_ASSIGN_SQL = f"""
    cents AS (
      SELECT vec_id AS cid, embedding AS cemb FROM embeddings
      WHERE vec_id < {_N_CENTROIDS}
    ),
    pairs AS (
      SELECT e.vec_id, c.cid, unnest(e.embedding) AS a, unnest(c.cemb) AS b
      FROM embeddings e CROSS JOIN cents c
    ),
    dists AS (
      SELECT vec_id, cid,
             round(SUM((CAST(a AS DOUBLE) - CAST(b AS DOUBLE))
                       * (CAST(a AS DOUBLE) - CAST(b AS DOUBLE))), 6) AS d2
      FROM pairs GROUP BY vec_id, cid
    ),
    assign AS (
      SELECT vec_id, cid AS cell FROM (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY d2 ASC, cid ASC) AS rn
        FROM dists
      ) WHERE rn = 1
    )
"""


def _centroid_literals(spark: SparkSession, sf_dir: str):
    """Fetch the 16 centroid vectors (keyed lookup — a parameter, not a
    data-path collect) and inline them as an array<struct> literal."""
    emb = load_table(spark, sf_dir, "embeddings")
    rows = (
        emb.where(F.col("vec_id") < _N_CENTROIDS)
        .select("vec_id", "embedding")
        .collect()
    )
    return [(int(r.vec_id), [float(x) for x in r.embedding]) for r in rows]


def _assign_expr(cents) -> F.Column:
    """argmin_{cid} round(||v - c||^2, 6), tie-break cid — as a pure
    column expression over the literal centroid set."""
    entries = []
    for cid, vec in cents:
        cvec = F.array(*[F.lit(x) for x in vec])
        d2 = F.round(
            F.aggregate(
                F.zip_with(
                    F.col("embedding"),
                    cvec,
                    lambda a, b: (a.cast("double") - b) * (a.cast("double") - b),
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
            6,
        )
        entries.append(F.struct(d2.alias("d2"), F.lit(cid).alias("cid")))
    return F.array_min(F.array(*entries))["cid"]


@query(
    "ivf_assign",
    oracle=f"""
    WITH {_IVF_ASSIGN_SQL}
    SELECT vec_id, CAST(cell AS BIGINT) AS cell FROM assign
    """,
)
def q_ivf_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index build: every vector assigned to its nearest centroid
    cell. One narrow map stage (centroids are literals); at 100 TB the
    output is written partitioned/bucketed by cell — that layout IS the
    inverted file."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents = _centroid_literals(spark, sf_dir)
    return emb.select(
        "vec_id", _assign_expr(cents).cast("bigint").alias("cell")
    )


@query(
    "ivf_search",
    oracle=f"""
    WITH {_IVF_ASSIGN_SQL},
    q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = {_QUERY_VEC_ID}),
    qcell AS (SELECT cell AS qc FROM assign WHERE vec_id = {_QUERY_VEC_ID}),
    cand AS (
      SELECT e.vec_id, e.embedding
      FROM embeddings e JOIN assign s ON e.vec_id = s.vec_id, qcell
      WHERE s.cell = qcell.qc AND e.vec_id <> {_QUERY_VEC_ID}
    ),
    cpairs AS (
      SELECT c.vec_id, unnest(c.embedding) AS a, unnest(q.qv) AS b
      FROM cand c, q
    ),
    sims AS (
      SELECT vec_id,
        SUM(CAST(a AS DOUBLE) * CAST(b AS DOUBLE)) AS dp,
        SUM(CAST(a AS DOUBLE) * CAST(a AS DOUBLE)) AS na,
        SUM(CAST(b AS DOUBLE) * CAST(b AS DOUBLE)) AS nb
      FROM cpairs GROUP BY vec_id
    )
    SELECT vec_id, round(dp / (sqrt(na) * sqrt(nb)), 4) AS cos_sim
    FROM sims ORDER BY cos_sim DESC, vec_id ASC LIMIT 10
    """,
)
def q_ivf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF probe: restrict exact cosine to the query's cell (nprobe=1),
    top-10. Expected candidates ~ corpus/16; with the cell-partitioned
    layout the scan prunes to one cell's files."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents = _centroid_literals(spark, sf_dir)
    qv = _vec_literal(_query_vec(spark, sf_dir))
    assigned = emb.select(
        "vec_id", "embedding", _assign_expr(cents).alias("cell")
    )
    qcell = (
        assigned.where(F.col("vec_id") == _QUERY_VEC_ID).select("cell").first()[0]
    )
    return (
        assigned.where(
            (F.col("cell") == qcell) & (F.col("vec_id") != _QUERY_VEC_ID)
        )
        .select("vec_id", cosine_sim(F.col("embedding"), qv).alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id").asc())
        .limit(10)
    )


@query(
    "ivf_train",
    oracle=f"""
    WITH {_IVF_ASSIGN_SQL},
    members AS (
      SELECT a.cell, e.vec_id,
             generate_subscripts(e.embedding, 1) AS dim,
             CAST(unnest(e.embedding) AS DOUBLE) AS val
      FROM embeddings e JOIN assign a ON e.vec_id = a.vec_id
    ),
    folded AS (
      SELECT cell, dim,
             COUNT(*) AS n_members,
             list_reduce(
               list_prepend(0.0, list(val ORDER BY vec_id)),
               (acc, x) -> acc + x) AS s
      FROM members GROUP BY cell, dim
    )
    SELECT CAST(cell AS BIGINT) AS cell, CAST(dim AS INT) AS dim,
           n_members, s / n_members AS centroid_val
    FROM folded
    """,
)
def q_ivf_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF training: one Lloyd refinement — assign every vector to its
    nearest seed centroid (same argmin as ivf_assign), then recompute
    each cell's centroid as the per-dimension mean of its members.
    Iterating this step to convergence is the same driver-side control
    loop as dedup_clusters; one step keeps the oracle exact and shows
    the full plan shape: narrow literal-centroid assign (no shuffle) ->
    posexplode dims -> one hash aggregation on (cell, dim).

    Exactness: a parallel SUM of floats is order-dependent, so BOTH
    engines fold each (cell, dim) member list sequentially in vec_id
    order (collect sorted + fold) — bit-identical doubles, division
    identical. That is a VERIFICATION device: the production plan (also
    benchmarked at probe scale) replaces the fold with plain sum —
    same single-exchange shape, commutative-aggregation speed."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents = _centroid_literals(spark, sf_dir)
    assigned = emb.select(
        "vec_id", "embedding", _assign_expr(cents).alias("cell")
    )
    dims = assigned.select(
        "cell",
        "vec_id",
        F.posexplode(F.col("embedding")).alias("dim0", "valf"),
    ).select(
        "cell",
        "vec_id",
        (F.col("dim0") + 1).cast("int").alias("dim"),
        F.col("valf").cast("double").alias("val"),
    )
    folded = dims.groupBy("cell", "dim").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("vec_id", "val"))),
                lambda s: s["val"],
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("s"),
    )
    return folded.select(
        F.col("cell").cast("bigint").alias("cell"),
        "dim",
        "n_members",
        (F.col("s") / F.col("n_members")).alias("centroid_val"),
    )


_PQ_SEGMENTS = 8
_PQ_CODES = 8
_SEG_DIMS = 64 // _PQ_SEGMENTS

_PQ_SQL = f"""
    segs AS (SELECT CAST(unnest(range(0, {_PQ_SEGMENTS})) AS INT) AS seg),
    cw AS (
      SELECT vec_id AS code, seg,
             embedding[seg * {_SEG_DIMS} + 1 : seg * {_SEG_DIMS} + {_SEG_DIMS}] AS cv
      FROM embeddings, segs WHERE vec_id < {_PQ_CODES}
    ),
    vx AS (
      SELECT vec_id, seg,
             embedding[seg * {_SEG_DIMS} + 1 : seg * {_SEG_DIMS} + {_SEG_DIMS}] AS sv
      FROM embeddings, segs
    ),
    pq_dists AS (
      -- fold pinned to the kernel's exact float path (r8 ADVICE):
      -- left-to-right list_reduce accumulation (DuckDB seeds with
      -- element 1; 0.0 + e1 == e1 bit-exact, so identical to the
      -- kernel's zero-seeded loop) and floor(x*1e6 + 0.5) instead of
      -- round() — an unordered GROUP-BY SUM plus round() was only
      -- same-in-practice, not contractually bit-identical near a
      -- .5 micro-unit boundary. Verified 0 diffs vs the old SUM form
      -- on real data at both SFs before switching.
      SELECT v.vec_id, v.seg, c.code,
             CAST(floor(list_reduce(
               list_transform(range(1, {_SEG_DIMS} + 1),
                 i -> (CAST(v.sv[i] AS DOUBLE) - CAST(c.cv[i] AS DOUBLE))
                      * (CAST(v.sv[i] AS DOUBLE) - CAST(c.cv[i] AS DOUBLE))),
               (acc, x) -> acc + x) * 1000000 + 0.5) AS BIGINT) AS d2u
      FROM vx v JOIN cw c ON v.seg = c.seg
    ),
    pq_assign AS (
      SELECT vec_id, seg, code, d2u FROM (
        SELECT vec_id, seg, code, d2u,
               row_number() OVER (PARTITION BY vec_id, seg
                                  ORDER BY d2u ASC, code ASC) AS rn
        FROM pq_dists
      ) WHERE rn = 1
    )
"""


@query(
    "pq_encode",
    oracle=f"""
    WITH {_PQ_SQL}
    SELECT vec_id, seg, CAST(code AS INT) AS code,
           d2u AS quant_err_micro
    FROM pq_assign
    """,
)
def q_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization: each embedding split into 8 contiguous
    8-dim subvectors, each encoded as the id of its nearest codeword
    (codebook = the seed vectors' subvectors, a parameter lookup like
    the IVF centroids). The (vec_id, seg, code) triples ARE the
    compressed index — 8 small ints instead of 64 floats, the memory
    play that makes billion-vector ANN fit; quant_err_micro is the
    per-segment residual (integer micro-units, the pq_search
    convention) used to monitor codebook quality.

    Executed as an Arrow-batched numpy kernel over mapInPandas — the
    documented Python-worthwhile exception: dense fixed-width vector
    math. Catalyst expression routes measured ~115k rows/s on 200k
    synthetic vectors (unrolled literals exceed janino's 64 KB method
    limit and run interpreted; zip_with/aggregate folds are
    CodegenFallback expressions, interpreted per element either way)
    vs vectorized C per batch here — and bit-exactness vs the DuckDB
    oracle is preserved by _np_nearest's left-to-right accumulation
    and micro-int rounding (see its docstring; equality proven
    differentially against the exact-SQL _best_code_struct reference
    in tests/test_llm_ops.py). Plan: one narrow Python map stage per
    vector (codebooks ride the closure) — zero shuffle, linear scan,
    embarrassingly parallel at any corpus size."""
    emb = load_table(spark, sf_dir, "embeddings")
    seed_rows = (
        emb.where(F.col("vec_id") < _PQ_CODES)
        .select("vec_id", "embedding")
        .collect()
    )
    # sorted: _np_nearest's first-min argmin reproduces the oracle's
    # "distance ties break toward the smaller code" only when entries
    # are ascending by id — collect() order is not guaranteed on a
    # multi-file scan (the sibling index-build sites already sort)
    books = sorted(
        (int(r.vec_id), [float(x) for x in r.embedding]) for r in seed_rows
    )

    def encode(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            E = _embedding_matrix(pdf)
            vec_ids = pdf["vec_id"].to_numpy()
            frames = []
            for seg in range(_PQ_SEGMENTS):
                code, d2u = _np_nearest(E, books, seg * _SEG_DIMS, _SEG_DIMS)
                frames.append(
                    pd.DataFrame(
                        {
                            "vec_id": vec_ids,
                            "seg": np.int32(seg),
                            "code": code.astype(np.int32),
                            "quant_err_micro": d2u,
                        }
                    )
                )
            yield pd.concat(frames, ignore_index=True)

    return emb.select("vec_id", "embedding").mapInPandas(
        encode,
        schema="vec_id bigint, seg int, code int, quant_err_micro bigint",
    )


@query(
    "embedding_quantize",
    oracle="""
    WITH base AS (
      SELECT vec_id, embedding,
             CAST(list_min(embedding) AS DOUBLE) AS vmin,
             CAST(list_max(embedding) AS DOUBLE) AS vmax
      FROM embeddings
    ),
    coded AS (
      SELECT vec_id, vmin, vmax,
             CASE WHEN vmax > vmin THEN
               [CAST(floor((CAST(x AS DOUBLE) - vmin) / (vmax - vmin) * 255 + 0.5)
                     AS BIGINT) FOR x IN embedding]
             ELSE [CAST(0 AS BIGINT) FOR x IN embedding] END AS cs
      FROM base
    )
    SELECT vec_id,
           CAST(len(cs) AS BIGINT) AS n_dims,
           vmin, vmax,
           md5(array_to_string(cs, ',')) AS codes_fp,
           CAST(list_sum(cs) AS BIGINT) AS sum_codes
    FROM coded
    """,
)
def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector affine uint8 quantization: each embedding maps to
    codes floor((x - min)/(max - min) * 255 + 0.5) — the storage-layer
    transform that shrinks a 100 TB float corpus 4x before ANN
    serving. Map-only (zero shuffle); codes ride out as an md5
    fingerprint plus an order-independent integer checksum rather than
    the array itself. Exactness: min/max of floats are exact, and both
    engines evaluate the identical double op sequence element-wise, so
    floor lands on the same integer everywhere — the oracle equality
    is bit-for-bit, no tolerance."""
    emb = load_table(spark, sf_dir, "embeddings")
    vmin = F.array_min("embedding").cast("double")
    vmax = F.array_max("embedding").cast("double")
    base = emb.select("vec_id", "embedding", vmin.alias("vmin"), vmax.alias("vmax"))
    quant = F.transform(
        F.col("embedding"),
        lambda x: F.floor(
            (x.cast("double") - F.col("vmin"))
            / (F.col("vmax") - F.col("vmin"))
            * 255
            + F.lit(0.5)
        ).cast("bigint"),
    )
    zeros = F.transform(F.col("embedding"), lambda x: F.lit(0).cast("bigint"))
    coded = base.select(
        "vec_id",
        "vmin",
        "vmax",
        F.when(F.col("vmax") > F.col("vmin"), quant).otherwise(zeros).alias("cs"),
    )
    return coded.select(
        "vec_id",
        F.size("cs").cast("bigint").alias("n_dims"),
        "vmin",
        "vmax",
        F.md5(F.concat_ws(",", F.transform(F.col("cs"), lambda c: c.cast("string")))).alias(
            "codes_fp"
        ),
        F.aggregate(
            F.col("cs"), F.lit(0).cast("bigint"), lambda a, x: a + x
        ).alias("sum_codes"),
    )


_PQ_QUERY = 100  # probe vector id (exists at every SF)


def _np_nearest(E, entries, lo: int, ndims: int):
    """Vectorized nearest-entry search over a batch of embeddings,
    BIT-EXACT vs the SQL fold the oracles pin: for each candidate the
    squared distance accumulates LEFT-TO-RIGHT over dims (numpy `+=`
    per dim applies the identical float64 IEEE op sequence as the
    SQL aggregate fold and DuckDB's unnest-SUM), then rounds to
    integer micro-units via floor(y*1e6 + 0.5) — exactly round-half-
    away-from-zero here because y*1e6 stays far below 2**51, so
    +0.5 is exact and no double tie can straddle the boundary.
    Comparing micro ints is order-isomorphic to comparing the SQL's
    round(d2, 6) doubles (k -> k*1e-6 is injective and monotone).
    argmin takes the FIRST minimum, which with ascending entry ids
    reproduces array_min's (d2, id) struct tie-break.

    Returns (ids, d2_micro_of_best) for the batch."""
    import numpy as np

    n = E.shape[0]
    d2u = np.empty((n, len(entries)), dtype=np.int64)
    for j, (_id, vec) in enumerate(entries):
        acc = np.zeros(n, dtype=np.float64)
        for i in range(ndims):
            t = E[:, lo + i] - vec[lo + i]
            acc += t * t
        d2u[:, j] = np.floor(acc * 1e6 + 0.5).astype(np.int64)
    best = np.argmin(d2u, axis=1)
    ids = np.array([e[0] for e in entries], dtype=np.int64)
    return ids[best], np.take_along_axis(d2u, best[:, None], axis=1)[:, 0]


def _embedding_matrix(pdf):
    """float64 (rows, dims) matrix from an Arrow batch's embedding
    column; float32 storage widens exactly, matching the SQL's
    CAST(x AS DOUBLE)."""
    import numpy as np

    return np.stack(pdf["embedding"].to_numpy()).astype(np.float64)


def _best_code_struct(books, seg: int) -> F.Column:
    """Nearest codeword for one segment as struct(d2u, code):
    argmin_{code} floor(||v_seg - c_seg||^2 * 1e6 + 0.5) with code
    tie-break, as a zip_with/aggregate fold (the _assign_expr
    pattern). This is the EXACT-SQL REFERENCE the differential tests
    compare the numpy encode against — the micro-int snap is applied
    to the RAW fold sum, the IDENTICAL float64 path the kernel
    (_np_nearest) takes (left-to-right accumulation, floor(x*1e6+0.5)),
    so kernel and reference are bit-comparable with no
    round-then-reconvert seam. The DuckDB oracle is pinned to the SAME
    contract since r9 (r8 ADVICE): its pq_dists/lut CTEs fold the
    ordered squared-diff list left-to-right via list_reduce and snap
    with floor(x*1e6 + 0.5) — the earlier unordered-SUM + round()
    form was only same-in-practice (verified 0 diffs on real data
    before the switch), not contractually bit-identical near a .5
    micro-unit boundary. Kernel, this SQL reference, and the oracle
    now share one float path end-to-end; the round-vs-floor boundary
    behavior itself is unit-tested in tests/test_llm_ops.py.
    The query paths themselves use _np_nearest via mapInPandas,
    because measured on 200k synthetic vectors the expression routes
    run at ~115k rows/s (unrolled literals fall out of codegen at
    janino's 64 KB limit, and HOF folds are CodegenFallback
    expressions — interpreted per element either way) while the
    Arrow+numpy route is vectorized C per batch."""
    lo = seg * _SEG_DIMS
    sub = F.slice(F.col("embedding"), lo + 1, _SEG_DIMS)
    entries = []
    for code, vec in books:
        cvec = F.array(*[F.lit(x) for x in vec[lo : lo + _SEG_DIMS]])
        d2u = F.floor(
            F.aggregate(
                F.zip_with(
                    sub,
                    cvec,
                    lambda a, b: (a.cast("double") - b)
                    * (a.cast("double") - b),
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            * 1_000_000
            + F.lit(0.5)
        ).cast("bigint")
        entries.append(F.struct(d2u.alias("d2u"), F.lit(code).alias("code")))
    return F.array_min(F.array(*entries))


# One materialized PQ index per (process, sf_dir): the production ANN
# layout — (vec_id, cell, codes[8]) parquet, 8 small ints + a cell id
# per vector instead of 64 floats. Searches SCAN THIS TABLE and never
# touch the embeddings again; encode cost is paid once at index-build
# time, exactly as a real ANN service does it.
_PQ_INDEX_CACHE: dict[str, str] = {}
_PQ_INDEX_LOCK = threading.Lock()


def _pq_index_path(spark: SparkSession, sf_dir: str) -> str:
    with _PQ_INDEX_LOCK:
        path = _PQ_INDEX_CACHE.get(sf_dir)
        if path is not None:
            return path
        import os
        import tempfile

        emb = load_table(spark, sf_dir, "embeddings")
        param_rows = (
            emb.where(F.col("vec_id") < max(_PQ_CODES, _N_CENTROIDS))
            .select("vec_id", "embedding")
            .collect()
        )
        vecs = {int(r.vec_id): [float(x) for x in r.embedding] for r in param_rows}
        books = [(c, vecs[c]) for c in sorted(vecs) if c < _PQ_CODES]
        cents = [(c, vecs[c]) for c in sorted(vecs) if c < _N_CENTROIDS]
        # tag by a hash of the FULL normalized sf_dir, not its basename:
        # two sf_dirs sharing a basename in one process must not write
        # to (and silently clobber) the same index path (r5 ADVICE)
        import hashlib

        tag = hashlib.md5(
            os.path.abspath(os.path.normpath(sf_dir)).encode()
        ).hexdigest()[:12]
        path = os.path.join(
            tempfile.gettempdir(), f"pq_index_{os.getpid()}_{tag}"
        )
        def build_index(batches):
            import numpy as np
            import pandas as pd

            for pdf in batches:
                if not len(pdf):
                    continue
                E = _embedding_matrix(pdf)
                cell, _ = _np_nearest(E, cents, 0, len(cents[0][1]))
                codes = np.stack(
                    [
                        _np_nearest(E, books, s * _SEG_DIMS, _SEG_DIMS)[0]
                        for s in range(_PQ_SEGMENTS)
                    ],
                    axis=1,
                ).astype(np.int32)
                yield pd.DataFrame(
                    {
                        "vec_id": pdf["vec_id"].to_numpy(),
                        "cell": cell.astype(np.int32),
                        "codes": list(codes),
                    }
                )

        # same Arrow+numpy kernel as pq_encode (see its docstring for
        # the measured expression-route cost and the bit-exactness
        # argument); one narrow Python map stage, written straight to
        # the index layout
        (
            emb.select("vec_id", "embedding")
            .mapInPandas(
                build_index, schema="vec_id bigint, cell int, codes array<int>"
            )
            .write.mode("overwrite")
            .parquet(path)
        )
        _PQ_INDEX_CACHE[sf_dir] = path
        return path


def _adc_lut(books, qvec) -> dict[int, list[int]]:
    """8x8 lookup table of query-subvector-to-codeword distances in
    integer micro-units, computed driver-side: Python's left-to-right
    float64 accumulation and floor(x*1e6 + 0.5) snap are now the
    PINNED contract shared with the DuckDB oracle's list_reduce lut
    CTE (r8 ADVICE — previously the oracle's unordered unnest-SUM +
    round() only matched in practice)."""
    import math

    lut: dict[int, list[int]] = {}
    for seg in range(_PQ_SEGMENTS):
        lo = seg * _SEG_DIMS
        row = []
        for code, vec in books:
            d2 = 0.0
            for a, b in zip(qvec[lo : lo + _SEG_DIMS], vec[lo : lo + _SEG_DIMS]):
                d2 = d2 + (a - b) * (a - b)
            row.append(int(math.floor(d2 * 1000000.0 + 0.5)))
        lut[seg] = row
    return lut


def _adc_sum_sql(lut: dict[int, list[int]]) -> str:
    """ADC distance over STORED codes: 8 integer array lookups + adds,
    no float arithmetic per candidate — the whole point of PQ at
    100 TB (scan 8 bytes/vector, not 256)."""
    return " + ".join(
        f"element_at(array({', '.join(f'{v}L' for v in lut[seg])}),"
        f" codes[{seg}] + 1)"
        for seg in range(_PQ_SEGMENTS)
    )


@query(
    "pq_search",
    oracle=f"""
    WITH {_PQ_SQL},
    q AS (
      SELECT seg,
             embedding[seg * {_SEG_DIMS} + 1 : seg * {_SEG_DIMS} + {_SEG_DIMS}] AS qv
      FROM embeddings, segs WHERE vec_id = {_PQ_QUERY}
    ),
    lut AS (
      -- same pinned fold + floor(+0.5) as pq_dists, matching
      -- _adc_lut's driver-side loop bit-for-bit (r8 ADVICE)
      SELECT q.seg, c.code,
             CAST(floor(list_reduce(
               list_transform(range(1, {_SEG_DIMS} + 1),
                 i -> (CAST(q.qv[i] AS DOUBLE) - CAST(c.cv[i] AS DOUBLE))
                      * (CAST(q.qv[i] AS DOUBLE) - CAST(c.cv[i] AS DOUBLE))),
               (acc, x) -> acc + x) * 1000000 + 0.5) AS BIGINT) AS qd2u
      FROM q JOIN cw c ON q.seg = c.seg
    ),
    adc AS (
      SELECT pa.vec_id, CAST(SUM(l.qd2u) AS BIGINT) AS adc_d2_micro
      FROM pq_assign pa JOIN lut l ON pa.seg = l.seg AND pa.code = l.code
      GROUP BY pa.vec_id
    )
    SELECT vec_id, adc_d2_micro FROM (
      SELECT vec_id, adc_d2_micro,
             row_number() OVER (ORDER BY adc_d2_micro ASC, vec_id ASC) AS rn
      FROM adc
    ) WHERE rn <= 10
    """,
)
def q_pq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ asymmetric-distance search (ADC) over the MATERIALIZED codes
    table (_pq_index_path): the query vector is expanded driver-side
    into an 8x8 LUT of query-subvector-to-codeword distances (64
    numbers — the parameter broadcast that makes ADC fast); each
    stored vector's approximate distance is then the SUM OF 8 TABLE
    LOOKUPS over its stored codes — zero float math per candidate,
    which is why PQ scans billions of codes at memory bandwidth. The
    encode arithmetic runs once at index-build time, not per search.
    Distances are integer micro-units (round(d2*1e6)): integer
    addition is associative, so Spark's fold and DuckDB's unordered
    SUM agree exactly and the top-10 rank (vec_id tiebreak) is
    unambiguous. Plan: codes-table scan + map-side integer adds +
    TakeOrdered — no shuffle, no join, no codeword arithmetic."""
    emb = load_table(spark, sf_dir, "embeddings")
    param_rows = (
        emb.where((F.col("vec_id") < _PQ_CODES) | (F.col("vec_id") == _PQ_QUERY))
        .select("vec_id", "embedding")
        .collect()
    )
    vecs = {int(r.vec_id): [float(x) for x in r.embedding] for r in param_rows}
    books = [(c, vecs[c]) for c in sorted(vecs) if c < _PQ_CODES]
    lut = _adc_lut(books, vecs[_PQ_QUERY])

    idx = spark.read.parquet(_pq_index_path(spark, sf_dir))
    return (
        idx.select("vec_id", F.expr(_adc_sum_sql(lut)).alias("adc_d2_micro"))
        .orderBy(F.col("adc_d2_micro").asc(), F.col("vec_id").asc())
        .limit(10)
    )


_N_PROBE = 4  # cells probed of the 16 — standard IVF recall/cost knob


@query(
    "ivf_pq_search",
    oracle=f"""
    WITH {_IVF_ASSIGN_SQL},
    {_PQ_SQL},
    probe AS (
      SELECT cid FROM (
        SELECT cid, row_number() OVER (ORDER BY d2 ASC, cid ASC) AS rn
        FROM dists WHERE vec_id = {_PQ_QUERY}
      ) WHERE rn <= {_N_PROBE}
    ),
    cand AS (
      SELECT a.vec_id FROM assign a JOIN probe p ON a.cell = p.cid
    ),
    q AS (
      SELECT seg,
             embedding[seg * {_SEG_DIMS} + 1 : seg * {_SEG_DIMS} + {_SEG_DIMS}] AS qv
      FROM embeddings, segs WHERE vec_id = {_PQ_QUERY}
    ),
    lut AS (
      -- same pinned fold + floor(+0.5) as pq_dists, matching
      -- _adc_lut's driver-side loop bit-for-bit (r8 ADVICE)
      SELECT q.seg, c.code,
             CAST(floor(list_reduce(
               list_transform(range(1, {_SEG_DIMS} + 1),
                 i -> (CAST(q.qv[i] AS DOUBLE) - CAST(c.cv[i] AS DOUBLE))
                      * (CAST(q.qv[i] AS DOUBLE) - CAST(c.cv[i] AS DOUBLE))),
               (acc, x) -> acc + x) * 1000000 + 0.5) AS BIGINT) AS qd2u
      FROM q JOIN cw c ON q.seg = c.seg
    ),
    adc AS (
      SELECT pa.vec_id, CAST(SUM(l.qd2u) AS BIGINT) AS adc_d2_micro
      FROM pq_assign pa
      JOIN cand ON pa.vec_id = cand.vec_id
      JOIN lut l ON pa.seg = l.seg AND pa.code = l.code
      GROUP BY pa.vec_id
    )
    SELECT vec_id, adc_d2_micro FROM (
      SELECT vec_id, adc_d2_micro,
             row_number() OVER (ORDER BY adc_d2_micro ASC, vec_id ASC) AS rn
      FROM adc
    ) WHERE rn <= 10
    """,
)
def q_ivf_pq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production ANN shape — IVF + PQ combined over the
    MATERIALIZED index table (vec_id, cell, codes): the probe picks
    its nearest {_N_PROBE} of the 16 coarse cells (driver-side
    arithmetic on the centroid parameter set), only index rows in
    those cells are scored, and scoring is pure ADC table lookups in
    integer micro-units over STORED codes. The two knobs compose: IVF
    prunes the candidate set via a pushed-down `cell IN (...)` filter
    on the index scan, PQ makes each surviving candidate cost 8
    integer adds — together that is how billion-vector indexes serve
    under a millisecond per probe (at 100 TB the index table would be
    PARTITIONED BY cell, making the probe a partition-pruned scan).
    Plan: filtered codes-table scan + map-side adds + TakeOrdered;
    zero shuffle, zero joins, zero codeword arithmetic."""
    import math

    emb = load_table(spark, sf_dir, "embeddings")
    param_rows = (
        emb.where((F.col("vec_id") < _N_CENTROIDS) | (F.col("vec_id") == _PQ_QUERY))
        .select("vec_id", "embedding")
        .collect()
    )
    vecs = {int(r.vec_id): [float(x) for x in r.embedding] for r in param_rows}
    cents = [(c, vecs[c]) for c in sorted(vecs) if c < _N_CENTROIDS]
    books = [(c, vecs[c]) for c in sorted(vecs) if c < _PQ_CODES]
    qvec = vecs[_PQ_QUERY]

    # probe-cell selection driver-side: micro-unit distances order
    # identically to the oracle's (round(d2,6), cid) ranking
    cell_d = []
    for cid, cvec in cents:
        d2 = 0.0
        for a, b in zip(qvec, cvec):
            d2 = d2 + (a - b) * (a - b)
        cell_d.append((int(math.floor(d2 * 1000000.0 + 0.5)), cid))
    probe_cells = [cid for _, cid in sorted(cell_d)[:_N_PROBE]]

    lut = _adc_lut(books, qvec)
    idx = spark.read.parquet(_pq_index_path(spark, sf_dir))
    return (
        idx.where(F.col("cell").isin(probe_cells))
        .select("vec_id", F.expr(_adc_sum_sql(lut)).alias("adc_d2_micro"))
        .orderBy(F.col("adc_d2_micro").asc(), F.col("vec_id").asc())
        .limit(10)
    )
