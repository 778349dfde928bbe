"""Similarity search over embedding columns (array<float>).

Beyond-reference surface (BASELINE.json north star). Three tiers:

- brute-force cosine top-k: broadcast the (small) query set against the
  corpus — the exact baseline; linear in corpus size, no N² blowup.
- sign-LSH bucketing: 8 fixed integer hyperplanes → 8 sign bits → bucket;
  at 100 TB, candidate search touches one bucket instead of the corpus.
- IVF cells: per-label centroids as a coarse quantizer; vectors are
  assigned to the nearest centroid (the inverted-file cell).

Vector math runs either JVM-side (``zip_with`` + ``aggregate`` fold) or —
for the quantization-family kernels, where interpreted HOF lambdas cost
~ms per row — as Arrow-batched numpy inside ``mapInArrow`` (guide §4.2:
whole batches to vectorized native code; never row-at-a-time Python).
Every Arrow kernel reproduces the JVM expression bit-for-bit: all values
are integers in float64 (|code| ≤ 127, dim 64 ⇒ every product/sum < 2^53,
exact under any summation order), scaling uses the same hoisted
``x * (127.0/amax)`` operation order, and rounding is explicit half-up
exactly like Spark's ``round(double)``. Hyperplanes are integer-valued so
the float math is bit-identical across engines.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dbt_spark_models_spark.operators import REGISTRY, query, run_scope
from dbt_spark_models_spark.sources.testdata import load_tables, spread

_DIM = 64
# Default sign-LSH width. SIZING KNOB (see SCALE.md): expected bucket size
# is N / 2^n_planes, and near-dup verification is quadratic per bucket —
# pick n_planes ≈ log2(N / target_bucket_size). 8 bits is right for the
# ~1e4-vector test corpus; a 1e11-doc corpus wants 24-28 bits (the helpers
# below all take n_planes explicitly).
_N_PLANES = 8


def _q8_codes_arrow(e: DataFrame, with_vv: bool = False) -> DataFrame:
    """(vec_id, c[, vv]) — int8 max-abs quantization codes as an
    Arrow-batched numpy kernel (guide §4.2). Bit-identical to the JVM
    expression ``transform(embedding, x -> round(double(x) * (127.0 /
    amax)))``: same float32→float64 casts, same hoisted per-row scale,
    explicit half-up rounding (``floor(y+0.5)`` / ``ceil(y-0.5)``, the
    double-rounding Spark's ``round`` performs), and ``vv = Σ c²`` is a
    sum of exact small integers in float64 (order-independent). One
    corpus pass, zero exchanges, and ~100× less per-row overhead than
    the interpreted HOF-lambda path it replaces."""
    schema = "vec_id bigint, c array<double>" + (
        ", vv double" if with_vv else ""
    )

    def batches(it):
        import numpy as np
        import pyarrow as pa

        for b in it:
            n = b.num_rows
            if n == 0:
                continue
            emb = b.column(1)
            arr = np.asarray(emb.flatten(), dtype=np.float64).reshape(n, -1)
            with np.errstate(divide="ignore", invalid="ignore"):
                amax = np.abs(arr).max(axis=1)
                y = arr * (127.0 / amax)[:, None]
            c = np.where(y >= 0.0, np.floor(y + 0.5), np.ceil(y - 0.5))
            dim = c.shape[1]
            off = pa.array(np.arange(n + 1, dtype=np.int32) * dim)
            cols = [
                b.column(0),
                pa.ListArray.from_arrays(
                    off, pa.array(c.ravel(), type=pa.float64())
                ),
            ]
            names = ["vec_id", "c"]
            if with_vv:
                cols.append(pa.array((c * c).sum(axis=1)))
                names.append("vv")
            yield pa.RecordBatch.from_arrays(cols, names=names)

    return e.select("vec_id", "embedding").mapInArrow(batches, schema)


def _km_assign_arrow(v: DataFrame, cents: list) -> DataFrame:
    """(vec_id, c, cid, d2) — nearest-centroid assignment over the
    (vec_id, c, vv) code table as one numpy matmul per Arrow batch.
    ``cents`` is the ≤K-entry [(cid, [centroid floats]), ...] list held at
    the driver; it is sorted by cid here so ``argmin``'s first-minimum
    tie-break IS the (d2, cid) struct-min order of the JVM form. All
    quantities are integers in float64 ⇒ d2 is exact and equal to the
    sequential-fold value bit-for-bit."""
    cents = sorted(cents)
    cids = [int(cid) for cid, _ in cents]
    cmat = [list(map(float, ce)) for _, ce in cents]
    schema = "vec_id bigint, c array<double>, cid bigint, d2 double"

    def batches(it):
        import numpy as np
        import pyarrow as pa

        C = np.asarray(cmat, dtype=np.float64)
        cid_arr = np.asarray(cids, dtype=np.int64)
        cc = (C * C).sum(axis=1)
        for b in it:
            n = b.num_rows
            if n == 0:
                continue
            carr = np.asarray(
                b.column(1).flatten(), dtype=np.float64
            ).reshape(n, -1)
            vv = np.asarray(b.column(2), dtype=np.float64)
            d2 = vv[:, None] + cc[None, :] - 2.0 * (carr @ C.T)
            best = d2.argmin(axis=1)
            yield pa.RecordBatch.from_arrays(
                [
                    b.column(0),
                    b.column(1),
                    pa.array(cid_arr[best]),
                    pa.array(d2[np.arange(n), best]),
                ],
                names=["vec_id", "c", "cid", "d2"],
            )

    return v.select("vec_id", "c", "vv").mapInArrow(batches, schema)


def _km_partial_sums_arrow(v: DataFrame, cents: list) -> DataFrame:
    """Per-Arrow-batch PARTIAL centroid sums for one Lloyd round:
    assignment exactly as ``_km_assign_arrow`` (same argmin, same
    integer-exact d2), then the per-centroid member count and per-dim
    code sums reduce INSIDE the kernel via one one-hot matmul — ≤K rows
    leave each batch instead of every vector row, and the JVM side
    shrinks from a 64-SUM-column aggregate (whose per-round planning
    cost dominated the round at bench scale — measured 0.72 s vs
    0.36 s for the same kernel with a count-only aggregate) to a
    3-column (cid, dim) aggregate over posexploded sums. All summed
    quantities are integers in float64 (|code| ≤ 127), so the matmul's
    summation order is irrelevant — the partials and their JVM re-sum
    are bit-exact."""
    cents = sorted(cents)
    cids = [int(cid) for cid, _ in cents]
    cmat = [list(map(float, ce)) for _, ce in cents]

    def batches(it):
        import numpy as np
        import pyarrow as pa

        C = np.asarray(cmat, dtype=np.float64)
        cid_arr = np.asarray(cids, dtype=np.int64)
        cc = (C * C).sum(axis=1)
        k = len(cid_arr)
        for b in it:
            n = b.num_rows
            if n == 0:
                continue
            carr = np.asarray(
                b.column(1).flatten(), dtype=np.float64
            ).reshape(n, -1)
            vv = np.asarray(b.column(2), dtype=np.float64)
            d2 = vv[:, None] + cc[None, :] - 2.0 * (carr @ C.T)
            best = d2.argmin(axis=1)
            onehot = best[:, None] == np.arange(k)[None, :]
            counts = onehot.sum(axis=0).astype(np.int64)
            sums = onehot.astype(np.float64).T @ carr  # (k, dim) exact ints
            m = counts > 0
            dim = sums.shape[1]
            off = pa.array(
                np.arange(int(m.sum()) + 1, dtype=np.int32) * dim
            )
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(cid_arr[m]),
                    pa.array(counts[m]),
                    pa.ListArray.from_arrays(
                        off, pa.array(sums[m].ravel(), type=pa.float64())
                    ),
                ],
                names=["cid", "n", "s"],
            )

    return v.select("vec_id", "c", "vv").mapInArrow(
        batches, "cid bigint, n bigint, s array<double>"
    )


def _plane(j: int, dim: int = _DIM) -> list[int]:
    """Deterministic pseudo-random integer hyperplane (Knuth multiplicative)."""
    return [(((j * dim + d) * 2654435761) % 2001) - 1000 for d in range(dim)]


def sign_lsh_signature(emb_col: str, n_planes: int = _N_PLANES, dim: int = _DIM):
    """Sign-LSH bucket string for an embedding column: one char per
    hyperplane ('1' if the projection is positive). Plane j is a fixed
    deterministic function of (j, dim), so wider signatures REFINE
    narrower ones: the first k chars of an n-plane signature equal the
    k-plane signature — growing ``n_planes`` with corpus size only splits
    buckets, never merges them."""
    bits = []
    for j in range(n_planes):
        h = F.array(*[F.lit(float(v)) for v in _plane(j, dim)])
        proj = F.aggregate(
            F.zip_with(F.col(emb_col), h, lambda x, y: x.cast("double") * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bits.append(F.when(proj > 0, "1").otherwise("0"))
    return F.concat(*bits)


def _dot_spark(a: str, b: str):
    """sum_i a[i]*b[i] in float64, sequential fold — JVM-side."""
    return F.aggregate(
        F.zip_with(F.col(a), F.col(b), lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm_spark(a: str):
    return F.sqrt(
        F.aggregate(
            F.col(a),
            F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )


@query(
    "similarity_bruteforce_topk",
    oracle="""
WITH q AS (
    SELECT vec_id AS q_id, embedding::DOUBLE[] AS q_emb,
           SQRT(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * x)))
               AS q_norm
    FROM embeddings WHERE vec_id < 5
), scored AS (
    SELECT q.q_id, e.vec_id AS neighbor_id,
           ROUND(list_dot_product(q.q_emb, e.embedding::DOUBLE[])
                 / (q.q_norm *
                    SQRT(list_sum(list_transform(e.embedding,
                                                 x -> CAST(x AS DOUBLE) * x)))), 4)
               AS cosine
    FROM q JOIN embeddings e ON e.vec_id <> q.q_id
)
SELECT q_id, neighbor_id, cosine, rnk
FROM (
    SELECT q_id, neighbor_id, cosine,
           ROW_NUMBER() OVER (PARTITION BY q_id
                              ORDER BY cosine DESC, neighbor_id) AS rnk
    FROM scored
) WHERE rnk <= 3
""",
)
def similarity_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-3 neighbors for a query set: broadcast queries ⋈
    corpus, fold-based dot product, windowed top-k. Ranking is on the
    *rounded* cosine with vec_id tie-break so it is reproducible."""
    e = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    q = (
        e.filter(F.col("vec_id") < 5)
        .select(
            F.col("vec_id").alias("q_id"),
            F.col("embedding").alias("q_emb"),
        )
        .withColumn("q_norm", _norm_spark("q_emb"))
    )
    corpus = e.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("n_emb"),
    ).withColumn("n_norm", _norm_spark("n_emb"))
    scored = (
        F.broadcast(q)
        .join(corpus, F.col("neighbor_id") != F.col("q_id"))
        .select(
            "q_id",
            "neighbor_id",
            F.round(
                _dot_spark("q_emb", "n_emb") / (F.col("q_norm") * F.col("n_norm")), 4
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("q_id", "neighbor_id", "cosine", "rnk")
    )


def _planes_duck() -> str:
    """DuckDB literal: list of 8 hyperplane double lists."""
    return (
        "["
        + ", ".join(
            "[" + ", ".join(f"{v}.0" for v in _plane(j)) + "]" for j in range(_N_PLANES)
        )
        + "]"
    )


@query(
    "similarity_lsh_sign_buckets",
    oracle=f"""
WITH planes AS (
    SELECT {_planes_duck()} AS ps
), sigs AS (
    SELECT vec_id, label,
           array_to_string(
               list_transform(planes.ps,
                   h -> CASE WHEN list_dot_product(embedding::DOUBLE[], h) > 0
                             THEN '1' ELSE '0' END), '') AS bucket
    FROM embeddings CROSS JOIN planes
)
SELECT bucket,
       COUNT(*) AS n_vecs,
       COUNT(DISTINCT label) AS n_labels,
       MIN(vec_id) AS min_vec_id
FROM sigs GROUP BY bucket
""",
)
def similarity_lsh_sign_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane (sign) LSH bucketing — the scale path for ANN:
    8 sign bits put similar vectors in the same bucket, so search probes
    one bucket (plus neighbors) instead of scanning the corpus. Output is
    the bucket histogram."""
    e = spread(load_tables(spark, sf_dir, ("embeddings",))["embeddings"], "vec_id")
    return lsh_bucket_histogram(e)


def lsh_bucket_histogram(e: DataFrame, n_planes: int = _N_PLANES) -> DataFrame:
    """Bucket histogram for a given signature width (the sizing knob)."""
    return (
        e.select(
            sign_lsh_signature("embedding", n_planes).alias("bucket"),
            "vec_id",
            "label",
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.countDistinct("label").alias("n_labels"),
            F.min("vec_id").alias("min_vec_id"),
        )
    )


@query(
    "similarity_ivf_assign",
    oracle="""
WITH pos AS (
    SELECT label, i, AVG(CAST(embedding[i] AS DOUBLE)) AS c
    FROM embeddings, LATERAL (SELECT unnest(generate_series(1, 64)) AS i)
    GROUP BY label, i
), centroids AS (
    SELECT label AS c_label, LIST(c ORDER BY i) AS c_emb FROM pos GROUP BY label
), scored AS (
    SELECT e.vec_id, e.label, c.c_label,
           ROUND(list_dot_product(e.embedding::DOUBLE[], c.c_emb)
                 / (SQRT(list_sum(list_transform(e.embedding,
                                                 x -> CAST(x AS DOUBLE) * x)))
                    * SQRT(list_sum(list_transform(c.c_emb, x -> x * x)))), 6)
               AS cosine
    FROM embeddings e CROSS JOIN centroids c
), assigned AS (
    SELECT vec_id, label, c_label, cosine,
           ROW_NUMBER() OVER (PARTITION BY vec_id
                              ORDER BY cosine DESC, c_label) AS rn
    FROM scored
)
SELECT label, c_label AS assigned_cell,
       COUNT(*) AS n_vecs
FROM assigned WHERE rn = 1
GROUP BY label, assigned_cell
""",
)
def similarity_ivf_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse quantizer: per-label centroids (train) → assign every
    vector to its nearest centroid cell (cosine). At scale the corpus is
    *partitioned by cell id* on write, so a query reads only its probe
    cells. Output: confusion counts label × assigned cell.

    The centroid averages are order-sensitive in the last float ulp, so
    cosines are rounded to 6dp before the argmax to stay deterministic.
    """
    e = spread(load_tables(spark, sf_dir, ("embeddings",))["embeddings"], "vec_id")
    # per-position averages: explode once, aggregate by (label, pos)
    pos = (
        e.select("label", F.posexplode("embedding").alias("i", "x"))
        .groupBy("label", "i")
        .agg(F.avg(F.col("x").cast("double")).alias("c"))
    )
    centroids = pos.groupBy(F.col("label").alias("c_label")).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("i", "c"))),
            lambda s: s.getField("c"),
        ).alias("c_emb")
    )
    c_norm = F.sqrt(
        F.aggregate(F.col("c_emb"), F.lit(0.0), lambda acc, x: acc + x * x)
    )
    # ALL centroids packed into one broadcast row; the per-vector nearest
    # cell is then a row-local argmin over the packed array (negated
    # rounded cosine + c_label tie-break = the exact (cosine DESC,
    # c_label) order of the old ROW_NUMBER window) — the pre-r11 plan
    # materialized the |labels|× expanded score table and SHUFFLED it
    # into per-vector window partitions just to keep one row each
    cent_row = centroids.withColumn("c_norm", c_norm).agg(
        F.collect_list(F.struct("c_label", "c_emb", "c_norm")).alias("cents")
    )
    best = F.array_min(
        F.transform(
            F.col("cents"),
            lambda t: F.struct(
                (
                    -F.round(
                        F.aggregate(
                            F.zip_with(
                                F.col("embedding"),
                                t["c_emb"],
                                lambda x, y: x.cast("double") * y,
                            ),
                            F.lit(0.0),
                            lambda acc, x: acc + x,
                        )
                        / (F.col("e_norm") * t["c_norm"]),
                        6,
                    )
                ).alias("negcos"),
                t["c_label"].alias("c_label"),
            ),
        )
    )
    return (
        e.withColumn("e_norm", _norm_spark("embedding"))
        .crossJoin(F.broadcast(cent_row))
        .select("label", best["c_label"].alias("assigned_cell"))
        .groupBy("label", "assigned_cell")
        .agg(F.count(F.lit(1)).alias("n_vecs"))
    )


@query(
    "dedup_embedding_cosine_pairs",
    oracle=f"""
WITH planes AS (
    SELECT {_planes_duck()} AS ps
), sigs AS (
    SELECT vec_id, embedding::DOUBLE[] AS emb,
           SQRT(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * x)))
               AS nrm,
           array_to_string(
               list_transform(planes.ps,
                   h -> CASE WHEN list_dot_product(embedding::DOUBLE[], h) > 0
                             THEN '1' ELSE '0' END), '') AS bucket
    FROM embeddings CROSS JOIN planes
)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       ROUND(list_dot_product(a.emb, b.emb) / (a.nrm * b.nrm), 4) AS cosine
FROM sigs a
JOIN sigs b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
WHERE list_dot_product(a.emb, b.emb) / (a.nrm * b.nrm) >= 0.4
""",
)
def dedup_embedding_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, LSH-bucketed (the dedup
    brief's 'embedding-cosine near-dup'): candidates = same 8-bit sign
    bucket (same hyperplanes as similarity_lsh_sign_buckets), verified by
    exact cosine >= 0.4. Pairwise work is confined to bucket collisions —
    ~n²/2⁸ in expectation instead of n²; at 100 TB, buckets are the write
    partitioning so candidates co-locate without a shuffle.

    The oracle mirrors the same candidate generation, so recall choices
    are compared exactly, not approximated."""
    e = spread(load_tables(spark, sf_dir, ("embeddings",))["embeddings"], "vec_id")
    return cosine_near_dup_pairs(e)


def cosine_near_dup_pairs(
    e: DataFrame, threshold: float = 0.4, n_planes: int = _N_PLANES
) -> DataFrame:
    """LSH-bucketed near-dup pairs; ``n_planes`` is the bucket-size knob
    (candidates shrink ~2× per extra plane, recall drops as planes split
    true pairs — production compensates with band OR-ing as in MinHash)."""
    sigs = e.select(
        "vec_id",
        F.col("embedding").alias("emb"),
        _norm_spark("embedding").alias("nrm"),
        sign_lsh_signature("embedding", n_planes).alias("bucket"),
    )
    a, b = sigs.alias("a"), sigs.alias("b")
    cos = _dot_spark("a.emb", "b.emb") / (F.col("a.nrm") * F.col("b.nrm"))
    return (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .withColumn("cosine_raw", cos)
        .filter(F.col("cosine_raw") >= threshold)
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.round("cosine_raw", 4).alias("cosine"),
        )
    )


@query(
    "similarity_quantized_cosine_topk",
    oracle="""
WITH q8 AS (
    SELECT vec_id,
           list_transform(embedding,
               x -> CAST(round(CAST(x AS DOUBLE)
                         * (127.0 / list_max(list_transform(embedding,
                                y -> abs(CAST(y AS DOUBLE)))))) AS DOUBLE))
               AS codes
    FROM embeddings
), q AS (
    SELECT vec_id AS q_id, codes AS qc,
           SQRT(list_sum(list_transform(codes, x -> x * x))) AS q_norm
    FROM q8 WHERE vec_id < 5
), scored AS (
    SELECT q.q_id, c.vec_id AS neighbor_id,
           ROUND(list_dot_product(q.qc, c.codes)
                 / (q.q_norm
                    * SQRT(list_sum(list_transform(c.codes, x -> x * x)))), 4)
               AS qcos
    FROM q JOIN q8 c ON c.vec_id <> q.q_id
)
SELECT q_id, neighbor_id, qcos, rnk
FROM (
    SELECT q_id, neighbor_id, qcos,
           ROW_NUMBER() OVER (PARTITION BY q_id
                              ORDER BY qcos DESC, neighbor_id) AS rnk
    FROM scored
) WHERE rnk <= 3
""",
)
def similarity_quantized_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8-quantized cosine top-k — the bandwidth-reduction scale path:
    per-vector max-abs scaling maps each float32 embedding to 8-bit codes
    (4× smaller scan; cosine is scale-invariant, so no rescale at query
    time), then the brute-force kernel runs on the code vectors. Every
    arithmetic step is exact in float64 (|code| ≤ 127, dim 64 → dot
    products < 2^21), so Spark and the oracle agree bit-for-bit — the
    quantization ERROR vs full precision is the design trade, the
    quantized computation itself is deterministic.

    Scale: at 100 TB the codes column is written once next to the
    embeddings (a cheap map stage) and all candidate scans read codes
    only; full-precision vectors are fetched just for final re-ranking of
    the top candidates."""
    e = spread(load_tables(spark, sf_dir, ("embeddings",))["embeddings"], "vec_id")
    # quantization codes via the Arrow numpy kernel (bit-identical to the
    # former interpreted HOF expressions — see _q8_codes_arrow)
    q8 = _q8_codes_arrow(e)
    # the query set is DEFINED as a bounded handful (vec_id < 5): collect
    # it once and score the whole corpus against the query matrix with one
    # numpy matmul per Arrow batch — the JVM form paid an interpreted
    # 64-element fold per (query, candidate) pair. dot products are exact
    # integers in float64; norms are IEEE sqrt, identical to the JVM; the
    # display rounding stays in the JVM so round-half-up semantics are
    # untouched.
    qrows = sorted(
        (r["vec_id"], list(r["c"]))
        for r in q8.filter(F.col("vec_id") < 5).collect()  # bounded: 5 rows
    )

    def scored_batches(it):
        import numpy as np
        import pyarrow as pa

        Q = np.asarray([c for _, c in qrows], dtype=np.float64)
        qids = np.asarray([i for i, _ in qrows], dtype=np.int64)
        qn = np.sqrt((Q * Q).sum(axis=1))
        nq = len(qids)
        for b in it:
            n = b.num_rows
            if n == 0:
                continue
            c = np.asarray(b.column(1).flatten(), dtype=np.float64).reshape(
                n, -1
            )
            vid = np.asarray(b.column(0), dtype=np.int64)
            dots = c @ Q.T  # (n, nq) exact integer doubles
            nn = np.sqrt((c * c).sum(axis=1))
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.tile(qids, n)),
                    pa.array(np.repeat(vid, nq)),
                    pa.array(dots.ravel()),
                    pa.array(np.repeat(qn[None, :], n, axis=0).ravel()),
                    pa.array(np.repeat(nn, nq)),
                ],
                names=["q_id", "neighbor_id", "dot", "qn", "nn"],
            )

    scored = (
        q8.mapInArrow(
            scored_batches,
            "q_id bigint, neighbor_id bigint, dot double, qn double,"
            " nn double",
        )
        .filter(F.col("neighbor_id") != F.col("q_id"))
        .select(
            "q_id",
            "neighbor_id",
            F.round(F.col("dot") / (F.col("qn") * F.col("nn")), 4).alias(
                "qcos"
            ),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("qcos").desc(), "neighbor_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("q_id", "neighbor_id", "qcos", "rnk")
    )


def _ivf_centroids(e: DataFrame) -> DataFrame:
    """(c_label, c_emb, c_norm): per-label mean vectors — the IVF coarse
    codebook shared by assignment and multi-probe scoring."""
    pos = (
        e.select("label", F.posexplode("embedding").alias("i", "x"))
        .groupBy("label", "i")
        .agg(F.avg(F.col("x").cast("double")).alias("c"))
    )
    centroids = pos.groupBy(F.col("label").alias("c_label")).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("i", "c"))),
            lambda s: s.getField("c"),
        ).alias("c_emb")
    )
    c_norm = F.sqrt(
        F.aggregate(F.col("c_emb"), F.lit(0.0), lambda acc, x: acc + x * x)
    )
    return centroids.withColumn("c_norm", c_norm)


def _ivf_cell_scored(e: DataFrame) -> DataFrame:
    """(vec_id, embedding, c_label, c_cosine) — every vector scored
    against every per-label centroid (tiny broadcast); the front half of
    multi-probe cell selection (assignment itself uses the packed-row
    argmin in :func:`_ivf_assigned`, which never materializes the
    |cells|× expansion)."""
    centroids = _ivf_centroids(e)
    return (
        e.withColumn("e_norm", _norm_spark("embedding"))
        .crossJoin(F.broadcast(centroids))
        .select(
            "vec_id",
            "embedding",
            "c_label",
            F.round(
                F.aggregate(
                    F.zip_with(
                        F.col("embedding"),
                        F.col("c_emb"),
                        lambda x, y: x.cast("double") * y,
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
                / (F.col("e_norm") * F.col("c_norm")),
                6,
            ).alias("c_cosine"),
        )
    )


def _ivf_assigned(e: DataFrame, sub_bits: int = 0) -> DataFrame:
    """IVF coarse quantizer shared by train/query/test paths: per-label
    centroids → each vector assigned to its nearest cell by cosine
    (rounded to 6dp + label tie-break for determinism). Returns
    (vec_id, embedding, cell).

    The codebook is packed into ONE broadcast row and the nearest cell is
    a row-local argmin over it (negated rounded cosine + c_label
    tie-break = the exact (c_cosine DESC, c_label) ROW_NUMBER order the
    pre-r11 form used) — assignment costs one corpus scan with zero
    exchanges, instead of shuffling the |cells|× expanded score table
    into per-vector window partitions.

    ``sub_bits`` is the cell-count SIZING KNOB (see SCALE.md): per-label
    cells alone cap out at k≈n_labels, far too coarse at 100 TB. Each
    extra sub-bit splits every cell in two via the shared sign-LSH planes
    (an inverted-multi-index-style refinement), so cell count is
    n_labels·2^sub_bits and expected cell size N/(n_labels·2^sub_bits) —
    pick sub_bits so a cell fits one executor's search budget. sub_bits=0
    keeps oracle parity for the registry queries."""
    cent_row = _ivf_centroids(e).agg(
        F.collect_list(F.struct("c_label", "c_emb", "c_norm")).alias("cents")
    )
    best = F.array_min(
        F.transform(
            F.col("cents"),
            lambda t: F.struct(
                (
                    -F.round(
                        F.aggregate(
                            F.zip_with(
                                F.col("embedding"),
                                t["c_emb"],
                                lambda x, y: x.cast("double") * y,
                            ),
                            F.lit(0.0),
                            lambda acc, x: acc + x,
                        )
                        / (F.col("e_norm") * t["c_norm"]),
                        6,
                    )
                ).alias("negcos"),
                t["c_label"].alias("c_label"),
            ),
        )
    )
    assigned = (
        e.withColumn("e_norm", _norm_spark("embedding"))
        .crossJoin(F.broadcast(cent_row))
        .select("vec_id", "embedding", best["c_label"].alias("cell"))
    )
    if sub_bits > 0:
        assigned = assigned.withColumn(
            "cell",
            F.concat(
                F.col("cell"),
                F.lit("/"),
                sign_lsh_signature("embedding", sub_bits),
            ),
        )
    return assigned



@query(
    "similarity_ivf_topk",
    oracle="""
WITH pos AS (
    SELECT label, i, AVG(CAST(embedding[i] AS DOUBLE)) AS c
    FROM embeddings, LATERAL (SELECT unnest(generate_series(1, 64)) AS i)
    GROUP BY label, i
), centroids AS (
    SELECT label AS c_label, LIST(c ORDER BY i) AS c_emb FROM pos GROUP BY label
), cell_scored AS (
    SELECT e.vec_id, e.embedding, c.c_label,
           ROUND(list_dot_product(e.embedding::DOUBLE[], c.c_emb)
                 / (SQRT(list_sum(list_transform(e.embedding,
                                                 x -> CAST(x AS DOUBLE) * x)))
                    * SQRT(list_sum(list_transform(c.c_emb, x -> x * x)))), 6)
               AS c_cosine
    FROM embeddings e CROSS JOIN centroids c
), assigned AS (
    SELECT vec_id, embedding, c_label AS cell
    FROM (
        SELECT vec_id, embedding, c_label, c_cosine,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY c_cosine DESC, c_label) AS rn
        FROM cell_scored
    ) WHERE rn = 1
), q AS (
    SELECT vec_id AS q_id, embedding AS q_emb, cell,
           SQRT(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * x)))
               AS q_norm
    FROM assigned WHERE vec_id < 5
), pair_scored AS (
    SELECT q.q_id, a.vec_id AS neighbor_id, q.cell,
           ROUND(list_dot_product(q.q_emb::DOUBLE[], a.embedding::DOUBLE[])
                 / (q.q_norm *
                    SQRT(list_sum(list_transform(a.embedding,
                                                 x -> CAST(x AS DOUBLE) * x)))), 4)
               AS cosine
    FROM q JOIN assigned a ON a.cell = q.cell AND a.vec_id <> q.q_id
)
SELECT q_id, cell, neighbor_id, cosine, rnk
FROM (
    SELECT q_id, cell, neighbor_id, cosine,
           ROW_NUMBER() OVER (PARTITION BY q_id
                              ORDER BY cosine DESC, neighbor_id) AS rnk
    FROM pair_scored
) WHERE rnk <= 3
""",
)
def similarity_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full IVF query path (the scale path ``similarity_ivf_assign`` only
    trains): per-label centroids as the coarse quantizer → every vector
    (queries included) assigned to its nearest cell → exact cosine top-3
    searched ONLY within the query's probe cell (nprobe=1).

    Scale: centroids are tiny → broadcast; assignment is one pass over the
    corpus; at 100 TB the corpus is written partitioned by ``cell`` so a
    query scans one partition (~1/n_cells of the data) instead of the whole
    corpus — this query demonstrates exactly that pruning, with the
    in-cell search reusing the brute-force kernel."""
    e = spread(load_tables(spark, sf_dir, ("embeddings",))["embeddings"], "vec_id")
    # the assigned corpus feeds both the query side and the search side of
    # the in-cell join; without materialization Spark re-trains the
    # centroids and re-scans the corpus for each branch (4 parquet scans).
    # Production writes `assigned` partitioned by cell (see docstring);
    # the persist is the in-query equivalent. Results unchanged.
    assigned = _ivf_assigned(e).persist()
    q = (
        assigned.filter(F.col("vec_id") < 5)
        .select(
            F.col("vec_id").alias("q_id"),
            F.col("embedding").alias("q_emb"),
            "cell",
        )
        .withColumn("q_norm", _norm_spark("q_emb"))
    )
    pair_scored = (
        F.broadcast(q)
        .join(
            assigned.alias("a"),
            (F.col("a.cell") == q.cell) & (F.col("a.vec_id") != F.col("q_id")),
        )
        .select(
            "q_id",
            q.cell.alias("cell"),
            F.col("a.vec_id").alias("neighbor_id"),
            F.round(
                F.aggregate(
                    F.zip_with(
                        F.col("q_emb"),
                        F.col("a.embedding"),
                        lambda x, y: x.cast("double") * y.cast("double"),
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
                / (F.col("q_norm") * _norm_spark("a.embedding")),
                4,
            ).alias("cosine"),
        )
    )
    w_topk = Window.partitionBy("q_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        pair_scored.withColumn("rnk", F.row_number().over(w_topk))
        .filter(F.col("rnk") <= 3)
        .select("q_id", "cell", "neighbor_id", "cosine", "rnk")
    )


_KM_K = 8  # clusters; seeds = the K smallest vec_ids (deterministic init)
_KM_DIM = _DIM  # embedding dimensionality of the code vectors
_KM_CODES_DUCK = """
    SELECT vec_id,
           list_transform(embedding,
               x -> CAST(round(CAST(x AS DOUBLE)
                         * (127.0 / list_max(list_transform(embedding,
                                y -> abs(CAST(y AS DOUBLE)))))) AS DOUBLE))
               AS c
    FROM embeddings
"""
# squared L2 on integer code vectors via |v|^2 + |c|^2 - 2 v.c (every term
# an exact small integer in float64)
_KM_D2_DUCK = (
    "list_dot_product(v.c, v.c) + list_dot_product(t.ce, t.ce)"
    " - 2 * list_dot_product(v.c, t.ce)"
)


def _km_assign_duck(cent: str, out: str) -> str:
    return f"""{out} AS (
    SELECT vec_id, cid, d2 FROM (
        SELECT v.vec_id, t.cid, {_KM_D2_DUCK} AS d2,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id
                                  ORDER BY {_KM_D2_DUCK}, t.cid) AS rn
        FROM codes v CROSS JOIN {cent} t
    ) WHERE rn = 1
)"""


def _km_update_duck(assign: str, out: str) -> str:
    return f"""{out}_pos AS (
    SELECT a.cid, i, FLOOR(SUM(v.c[i]) / COUNT(*)) AS cv
    FROM {assign} a JOIN codes v USING (vec_id),
         LATERAL (SELECT unnest(generate_series(1, 64)) AS i)
    GROUP BY a.cid, i
), {out} AS (
    SELECT cid, LIST(cv ORDER BY i) AS ce FROM {out}_pos GROUP BY cid
)"""


@query(
    "similarity_kmeans_ivf_train",
    oracle=f"""
WITH codes AS ({_KM_CODES_DUCK}),
cent0 AS (
    SELECT vec_id AS cid, c AS ce FROM codes WHERE vec_id < {_KM_K}
),
{_km_assign_duck("cent0", "a1")},
{_km_update_duck("a1", "cent1")},
{_km_assign_duck("cent1", "a2")},
{_km_update_duck("a2", "cent2")},
{_km_assign_duck("cent2", "a3")}
SELECT cid AS cluster_id,
       COUNT(*) AS n_vecs,
       CAST(MIN(vec_id) AS BIGINT) AS min_vec_id,
       CAST(SUM(d2) AS BIGINT) AS inertia
FROM a3 GROUP BY cid
""",
)
def similarity_kmeans_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNSUPERVISED IVF centroid training: Lloyd's k-means over
    int8-quantized embeddings — 3 assignment rounds with 2 centroid
    updates, K=8, deterministic seeds (the K smallest vec_ids).
    Complements ``similarity_ivf_assign`` (which uses label-derived
    centroids): this is how the coarse quantizer is actually trained when
    no labels exist.

    Exactness: codes are integers (max-abs int8, as
    ``similarity_quantized_cosine_topk``), squared-L2 uses the
    |v|^2+|c|^2-2v.c expansion (every term an exact small integer in
    float64), and centroid updates are FLOOR(sum/count) integer division —
    so the iterative algorithm is bit-identical between Spark and the
    unrolled 3-iteration SQL oracle: a HARD hash gate for an iterative ML
    training loop, not a rows-only check.

    Scale: each round broadcasts ONE aggregated row carrying all K centroid
    structs; assignment is a row-local ``array_min`` argmin over that array
    — zero shuffle and zero row blowup (the old form crossJoined K rows per
    vector then window-sorted N*K rows per round). The update is a single
    map-side-combined groupBy(cid) with 64 per-dimension SUM columns (only
    K rows per partition reach the shuffle), not a 64x posexplode. The
    driver loop holds only the 8-row centroid table (localCheckpoint cuts
    lineage). At 100 TB you train on a sampled slice and assign the full
    corpus once — the assignment pass is exactly ``similarity_ivf_assign``'s
    plan."""
    e = spread(load_tables(spark, sf_dir, ("embeddings",))["embeddings"], "vec_id")
    # quantization codes + |c|² via the Arrow numpy kernel — bit-identical
    # to the former interpreted HOF expressions at ~100× less per-row cost
    # (guide §4.2); persisted because the K seed probe, every assignment
    # round, and the final aggregate all re-scan it
    v = _q8_codes_arrow(e, with_vv=True).persist()
    # The K-row centroid table lives at the DRIVER between rounds (bounded
    # ≤K rows per probe, the same budget class as BPE's 1-row argmax): each
    # round stamps the centroids into the assignment kernel's closure, so a
    # round costs exactly ONE job (the map-side-combined 64-sum groupBy
    # pulled as K rows) — no per-round broadcast build, no crossJoin, no
    # eager localCheckpoint job. |c|² and d2 are integer-exact in float64,
    # so the numpy matmul reproduces the JVM fold bitwise.
    seeds = (
        v.filter(F.col("vec_id") < _KM_K)
        .select(F.col("vec_id").cast("long").alias("cid"), "c")
        .collect()  # bounded: K rows (deterministic seed centroids)
    )
    cents = [(r["cid"], [float(x) for x in r["c"]]) for r in seeds]
    import math

    for it in range(2):
        # partial sums reduce INSIDE the Arrow kernel (<=K rows per batch,
        # one-hot matmul - see _km_partial_sums_arrow: the former 64-SUM
        # JVM aggregate's per-round planning cost dominated the round);
        # the tiny (cid, dim) re-sum below ships K rows per partition and
        # its K*64-row result is the bounded probe that feeds the next
        # round's literal centroids (FLOOR(sum/count) on integer-exact
        # doubles, identical to the former in-plan F.floor division)
        cells = (
            _km_partial_sums_arrow(v, cents)
            .select("cid", "n", F.posexplode("s").alias("i", "sv"))
            .groupBy("cid", "i")
            .agg(
                F.sum("sv").alias("s"),
                F.sum(
                    F.when(F.col("i") == 0, F.col("n")).otherwise(0)
                ).alias("n0"),
            )
        ).collect()  # bounded: K*64 rows (same probe class as PQ's S*K)
        by_cid: dict = {}
        for r in cells:
            d = by_cid.setdefault(
                int(r["cid"]), {"n": 0, "s": [0.0] * _KM_DIM}
            )
            d["s"][int(r["i"])] = float(r["s"])
            if int(r["i"]) == 0:
                d["n"] = int(r["n0"])
        cents = [
            (
                cid,
                [
                    float(math.floor(d["s"][i] / d["n"]))
                    for i in range(_KM_DIM)
                ],
            )
            for cid, d in sorted(by_cid.items())
        ]
    # round 3 = the final assignment over the twice-updated centroids
    assigned = _km_assign_arrow(v, cents)
    return assigned.groupBy(F.col("cid").alias("cluster_id")).agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.min("vec_id").cast("long").alias("min_vec_id"),
        F.sum("d2").cast("long").alias("inertia"),
    )




_IVF_CELLS_DUCK = """
pos AS (
    SELECT label, i, AVG(CAST(embedding[i] AS DOUBLE)) AS c
    FROM embeddings, LATERAL (SELECT unnest(generate_series(1, 64)) AS i)
    GROUP BY label, i
), centroids AS (
    SELECT label AS c_label, LIST(c ORDER BY i) AS c_emb FROM pos GROUP BY label
), cell_scored AS (
    SELECT e.vec_id, e.embedding, c.c_label,
           ROUND(list_dot_product(e.embedding::DOUBLE[], c.c_emb)
                 / (SQRT(list_sum(list_transform(e.embedding,
                                                 x -> CAST(x AS DOUBLE) * x)))
                    * SQRT(list_sum(list_transform(c.c_emb, x -> x * x)))), 6)
               AS c_cosine
    FROM embeddings e CROSS JOIN centroids c
), assigned AS (
    SELECT vec_id, embedding, c_label AS cell
    FROM (
        SELECT vec_id, embedding, c_label, c_cosine,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY c_cosine DESC, c_label) AS rn
        FROM cell_scored
    ) WHERE rn = 1
)"""


@query(
    "similarity_ivf_topk_multiprobe",
    oracle=f"""
WITH {_IVF_CELLS_DUCK}, probes AS (
    SELECT q_id, cell FROM (
        SELECT vec_id AS q_id, c_label AS cell,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY c_cosine DESC, c_label) AS prn
        FROM cell_scored WHERE vec_id < 5
    ) WHERE prn <= 3
), q AS (
    SELECT vec_id AS q_id, embedding AS q_emb,
           SQRT(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * x)))
               AS q_norm
    FROM embeddings WHERE vec_id < 5
), pair_scored AS (
    SELECT q.q_id, a.vec_id AS neighbor_id,
           ROUND(list_dot_product(q.q_emb::DOUBLE[], a.embedding::DOUBLE[])
                 / (q.q_norm *
                    SQRT(list_sum(list_transform(a.embedding,
                                                 x -> CAST(x AS DOUBLE) * x)))), 4)
               AS cosine
    FROM q
    JOIN probes p ON p.q_id = q.q_id
    JOIN assigned a ON a.cell = p.cell AND a.vec_id <> q.q_id
)
SELECT q_id, neighbor_id, cosine, rnk
FROM (
    SELECT q_id, neighbor_id, cosine,
           ROW_NUMBER() OVER (PARTITION BY q_id
                              ORDER BY cosine DESC, neighbor_id) AS rnk
    FROM pair_scored
) WHERE rnk <= 3
""",
)
def similarity_ivf_topk_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe IVF top-k (nprobe=3): each query searches its THREE
    nearest centroid cells instead of one — the standard recall lever when
    the coarse quantizer splits a cosine neighborhood across cell
    boundaries (see ``similarity_ivf_recall`` for the measured curve).

    Scale: probe selection is the same tiny centroid broadcast; the
    in-cell search reads nprobe partitions instead of one — cost scales
    linearly in nprobe, still ~nprobe/n_cells of a full scan. No candidate
    can repeat (a corpus vector lives in exactly one cell), so the union
    of probe scans needs no dedup."""
    e = spread(load_tables(spark, sf_dir, ("embeddings",))["embeddings"], "vec_id")
    cell_scored = _ivf_cell_scored(e)
    assigned = _ivf_assigned(e).persist()
    w_probe = Window.partitionBy("vec_id").orderBy(
        F.col("c_cosine").desc(), F.col("c_label")
    )
    probes = (
        cell_scored.filter(F.col("vec_id") < 5)
        .withColumn("prn", F.row_number().over(w_probe))
        .filter(F.col("prn") <= 3)
        .select(
            F.col("vec_id").alias("q_id"), F.col("c_label").alias("probe_cell")
        )
    )
    q = (
        e.filter(F.col("vec_id") < 5)
        .select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb"))
        .withColumn("q_norm", _norm_spark("q_emb"))
        .join(probes, "q_id")
    )
    pair_scored = (
        F.broadcast(q)
        .join(
            assigned.alias("a"),
            (F.col("a.cell") == F.col("probe_cell"))
            & (F.col("a.vec_id") != F.col("q_id")),
        )
        .select(
            "q_id",
            F.col("a.vec_id").alias("neighbor_id"),
            F.round(
                F.aggregate(
                    F.zip_with(
                        F.col("q_emb"),
                        F.col("a.embedding"),
                        lambda x, y: x.cast("double") * y.cast("double"),
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
                / (F.col("q_norm") * _norm_spark("a.embedding")),
                4,
            ).alias("cosine"),
        )
    )
    w_topk = Window.partitionBy("q_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        pair_scored.withColumn("rnk", F.row_number().over(w_topk))
        .filter(F.col("rnk") <= 3)
        .select("q_id", "neighbor_id", "cosine", "rnk")
    )


@query(
    "similarity_ivf_recall",
    oracle=None,  # set below: composes the two gated oracles verbatim
)
def similarity_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@3 CURVE of the IVF cell-pruned top-k against the exact
    brute-force top-k, per query, at nprobe=1 and nprobe=3 — the
    accuracy-vs-work trade of the approximate path, measured by the engine
    itself (the standard ANN evaluation loop; more probes -> higher recall
    at proportionally more scan). All inputs are themselves hash-gated
    queries; this composes their results, and its oracle composes their
    oracle SQL verbatim, so the driver checks the measurement too.

    Scale: the two top-k results are k-rows-per-query tables — the join is
    query-set-sized, trivially broadcast; the expensive parts are the
    underlying searches, already audited."""
    bf = similarity_bruteforce_topk(spark, sf_dir).select("q_id", "neighbor_id")
    iv1 = similarity_ivf_topk(spark, sf_dir).select("q_id", "neighbor_id")
    iv3 = similarity_ivf_topk_multiprobe(spark, sf_dir).select(
        "q_id", "neighbor_id"
    )

    def hits(iv, out):
        return (
            bf.join(iv, ["q_id", "neighbor_id"])
            .groupBy("q_id")
            .agg(F.count(F.lit(1)).alias(out))
        )

    return (
        bf.groupBy("q_id")
        .agg(F.count(F.lit(1)).alias("k"))
        .join(hits(iv1, "h1"), "q_id", "left")
        .join(hits(iv3, "h3"), "q_id", "left")
        .select(
            "q_id",
            F.coalesce(F.col("h1"), F.lit(0)).cast("long").alias("hits_nprobe1"),
            F.round(F.coalesce(F.col("h1"), F.lit(0)) / F.col("k"), 4).alias(
                "recall_nprobe1"
            ),
            F.coalesce(F.col("h3"), F.lit(0)).cast("long").alias("hits_nprobe3"),
            F.round(F.coalesce(F.col("h3"), F.lit(0)) / F.col("k"), 4).alias(
                "recall_nprobe3"
            ),
        )
    )


# oracle: nest the two component oracles as table subqueries (DuckDB
# supports WITH inside a parenthesized subquery), join, count overlaps
REGISTRY["similarity_ivf_recall"].oracle = f"""
WITH bf AS ({REGISTRY["similarity_bruteforce_topk"].oracle}),
ivf1 AS ({REGISTRY["similarity_ivf_topk"].oracle}),
ivf3 AS ({REGISTRY["similarity_ivf_topk_multiprobe"].oracle}),
h1 AS (
    SELECT bf.q_id, COUNT(*) AS n
    FROM bf JOIN ivf1 ON bf.q_id = ivf1.q_id AND bf.neighbor_id = ivf1.neighbor_id
    GROUP BY bf.q_id
),
h3 AS (
    SELECT bf.q_id, COUNT(*) AS n
    FROM bf JOIN ivf3 ON bf.q_id = ivf3.q_id AND bf.neighbor_id = ivf3.neighbor_id
    GROUP BY bf.q_id
)
SELECT k.q_id,
       COALESCE(h1.n, 0) AS hits_nprobe1,
       ROUND(COALESCE(h1.n, 0) / k.k, 4) AS recall_nprobe1,
       COALESCE(h3.n, 0) AS hits_nprobe3,
       ROUND(COALESCE(h3.n, 0) / k.k, 4) AS recall_nprobe3
FROM (SELECT q_id, COUNT(*) AS k FROM bf GROUP BY q_id) k
LEFT JOIN h1 ON h1.q_id = k.q_id
LEFT JOIN h3 ON h3.q_id = k.q_id
"""


_PQ_S = 8  # subspaces (64 dims -> 8 x 8)
_PQ_D = 8  # dims per subspace
_PQ_K = 16  # centroids per subspace codebook; seeds = 16 smallest vec_ids
_PQ_D2_DUCK = (
    "list_dot_product(v.sub, v.sub) + list_dot_product(t.ce, t.ce)"
    " - 2 * list_dot_product(v.sub, t.ce)"
)


def _pq_assign_duck(cent: str, out: str) -> str:
    return f"""{out} AS (
    SELECT vec_id, s, cid, d2 FROM (
        SELECT v.vec_id, v.s, t.cid, {_PQ_D2_DUCK} AS d2,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id, v.s
                                  ORDER BY {_PQ_D2_DUCK}, t.cid) AS rn
        FROM sub v JOIN {cent} t ON t.s = v.s
    ) WHERE rn = 1
)"""


def _pq_update_duck(assign: str, out: str) -> str:
    return f"""{out}_pos AS (
    SELECT a.s, a.cid, i, FLOOR(SUM(v.sub[i]) / COUNT(*)) AS cv
    FROM {assign} a JOIN sub v ON v.vec_id = a.vec_id AND v.s = a.s,
         LATERAL (SELECT unnest(generate_series(1, {_PQ_D})) AS i)
    GROUP BY a.s, a.cid, i
), {out} AS (
    SELECT s, cid, LIST(cv ORDER BY i) AS ce FROM {out}_pos GROUP BY s, cid
)"""


@query(
    "similarity_pq_adc_topk",
    oracle=f"""
WITH codes AS ({_KM_CODES_DUCK}),
sub AS (
    SELECT vec_id, s.s AS s,
           list_slice(c, s.s * {_PQ_D} + 1, s.s * {_PQ_D} + {_PQ_D}) AS sub
    FROM codes, LATERAL (SELECT unnest(generate_series(0, {_PQ_S - 1})) AS s) s
),
cent0 AS (
    SELECT s, vec_id AS cid, sub AS ce FROM sub WHERE vec_id < {_PQ_K}
),
{_pq_assign_duck("cent0", "a1")},
{_pq_update_duck("a1", "cent1")},
{_pq_assign_duck("cent1", "a2")},
qd AS (
    SELECT v.vec_id AS q_id, t.s, t.cid, {_PQ_D2_DUCK} AS d2
    FROM sub v JOIN cent1 t ON t.s = v.s
    WHERE v.vec_id < 5
),
adc AS (
    SELECT q.q_id, e.vec_id AS neighbor_id,
           CAST(SUM(q.d2) AS BIGINT) AS adc_dist
    FROM a2 e JOIN qd q ON q.s = e.s AND q.cid = e.cid
    WHERE e.vec_id <> q.q_id
    GROUP BY q.q_id, e.vec_id
    HAVING COUNT(*) = {_PQ_S}
)
SELECT q_id, neighbor_id, adc_dist, rnk
FROM (
    SELECT q_id, neighbor_id, adc_dist,
           ROW_NUMBER() OVER (PARTITION BY q_id
                              ORDER BY adc_dist, neighbor_id) AS rnk
    FROM adc
) WHERE rnk <= 3
""",
)
def similarity_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization end to end — the memory-bound ANN scale path
    (Jegou et al.): int8 codes split into 8 subspaces of 8 dims; per
    subspace, a 16-centroid codebook is Lloyd-trained (2 assignment
    rounds, 1 integer-floor update, seeds = the 16 smallest vec_ids);
    every vector encodes to 8 codebook ids (8 BYTES per vector instead of
    256 — a 32x scan-bandwidth cut); queries score candidates by
    asymmetric distance (ADC): per-query distance table to all 128
    centroids, then each candidate's distance is a SUM of 8 table
    lookups. Every arithmetic step (squared-L2 expansion over integer
    codes, floor-divided centroid updates, integer ADC sums) is exact in
    float64, so train + encode + search all hash-match the unrolled SQL
    oracle.

    r12 FUSED form (guide §2.3/§2.4/§4.2 + §8 "decide with small rows"):
    the r11 Arrow conversion kept the r10 plan skeleton — a persisted
    8-rows-per-vector ``sub`` table, two assignment passes that shipped
    (vec_id, s, sub, cid, d2) back across the Python boundary, a JVM
    re-aggregation of the update sums, a broadcast-join ADC and a
    corpus-scale top-k window — and quiet-measured SLOWER than the JVM
    form it replaced (r11 VERDICT #1). This round fuses each phase into
    the kernel that already holds the data: pass 1 quantizes, assigns to
    the seed codebooks AND reduces the centroid update to per-task
    (s, cid, n, Σsub) partials (≤S·K rows per task; a tiny groupBy makes
    the driver collect ≤S·K rows at ANY corpus size); pass 2 re-quantizes,
    assigns to the trained codebooks and scores ADC against the
    driver-computed per-query distance tables, emitting only each task's
    top-3 per query (≤3·|Q| rows per task). Seeds AND the 5 query vectors
    come from ONE predicate-pushdown collect (vec_id < K covers both).
    Quiet interleaved A/B (load <0.1, 7 alternating rounds each, min/med):
    old JVM 2.55/2.85 s, r11 Arrow 3.43/3.60 s, fused 1.53/1.85 s — the
    fused form wins both, and is the 100 TB shape outright: two scans of
    the narrow (vec_id, embedding) projection, zero persisted corpus
    state, zero corpus-scale exchanges (partials and top-k candidates are
    the only rows that move). All arithmetic is the same IEEE float64
    ops on integer-valued codes (driver numpy replicates the kernel's
    quantization expression exactly), so results stay hash-identical to
    the unrolled SQL oracle — verified at sf0.1/sf0.01/sf0.001.

    The HAVING/count guard of the oracle holds by construction here:
    every assignment cid comes from the trained codebook, whose every
    cell appears in every query's distance table, so each candidate
    always sums exactly S lookups (an empty trained cell exists in
    neither engine)."""
    import numpy as np

    e = spread(load_tables(spark, sf_dir, ("embeddings",))["embeddings"], "vec_id")
    narrow = e.select("vec_id", "embedding")

    def _quantize(arr: "np.ndarray") -> "np.ndarray":
        # identical IEEE ops to the pre-r12 in-kernel quantization (and to
        # the oracle's ROUND-half-away-from-zero over x * 127/absmax)
        with np.errstate(divide="ignore", invalid="ignore"):
            amax = np.abs(arr).max(axis=1)
            y = arr * (127.0 / amax)[:, None]
        return np.where(y >= 0.0, np.floor(y + 0.5), np.ceil(y - 0.5))

    # seeds + queries in ONE predicate-pushdown collect: vec_id < K is
    # the seed set and contains the vec_id < 5 query set
    seed_rows = narrow.filter(
        F.col("vec_id") < _PQ_K
    ).collect()  # bounded: K = 16 rows (seeds; queries are the vec_id<5 subset)
    seed_ids = np.asarray([r["vec_id"] for r in seed_rows], dtype=np.int64)
    order = np.argsort(seed_ids)
    seed_ids = seed_ids[order]
    seed_arr = np.asarray(
        [[float(x) for x in seed_rows[i]["embedding"]] for i in order],
        dtype=np.float64,
    )
    seed_codes = _quantize(seed_arr).reshape(len(seed_ids), _PQ_S, _PQ_D)
    cb0 = {s: (seed_ids, seed_codes[:, s, :]) for s in range(_PQ_S)}

    def partials_arrow(cb: dict) -> DataFrame:
        """Pass 1: quantize + nearest-seed assignment + in-task centroid
        partial sums. argmin's first-minimum tie-break over cid-sorted
        entries IS the oracle's (d2, cid) order; counts and Σsub are
        integer-exact in float64 at any accumulation order."""

        def batches(it):
            import pyarrow as pa

            Cs = {
                s: (cids, C, (C * C).sum(axis=1)) for s, (cids, C) in cb.items()
            }
            cnt = {s: np.zeros(len(cids)) for s, (cids, _) in cb.items()}
            sums = {
                s: np.zeros((len(cids), _PQ_D)) for s, (cids, _) in cb.items()
            }
            seen = False
            for b in it:
                n = b.num_rows
                if n == 0:
                    continue
                seen = True
                arr = np.asarray(
                    b.column(1).flatten(), dtype=np.float64
                ).reshape(n, -1)
                subs = _quantize(arr).reshape(n, _PQ_S, _PQ_D)
                for s, (cids, C, cc) in Cs.items():
                    x = subs[:, s, :]
                    d2 = (
                        (x * x).sum(axis=1)[:, None]
                        + cc[None, :]
                        - 2.0 * (x @ C.T)
                    )
                    best = d2.argmin(axis=1)
                    onehot = np.zeros((n, len(cids)))
                    onehot[np.arange(n), best] = 1.0
                    cnt[s] += onehot.sum(axis=0)
                    sums[s] += onehot.T @ x
            if not seen:
                return
            out_s, out_cid, out_n, out_sums = [], [], [], []
            for s, (cids, _, _) in Cs.items():
                nz = cnt[s] > 0
                out_s.append(np.full(int(nz.sum()), s, dtype=np.int32))
                out_cid.append(cids[nz])
                out_n.append(cnt[s][nz])
                out_sums.append(sums[s][nz])
            s_a = np.concatenate(out_s)
            m = len(s_a)
            if m == 0:
                return
            arrays = [
                pa.array(s_a),
                pa.array(np.concatenate(out_cid)),
                pa.array(np.concatenate(out_n)),
            ]
            sum_a = np.concatenate(out_sums)
            arrays += [pa.array(sum_a[:, i]) for i in range(_PQ_D)]
            yield pa.RecordBatch.from_arrays(
                arrays,
                names=["s", "cid", "n"] + [f"s{i}" for i in range(_PQ_D)],
            )

        schema = "s int, cid bigint, n double, " + ", ".join(
            f"s{i} double" for i in range(_PQ_D)
        )
        return narrow.mapInArrow(batches, schema)

    # one tiny (s, cid)-keyed agg caps the collect at S*K rows no matter
    # how many tasks contributed partials
    sums = (
        partials_arrow(cb0)
        .groupBy("s", "cid")
        .agg(
            F.sum("n").alias("n"),
            *[F.sum(f"s{i}").alias(f"s{i}") for i in range(_PQ_D)],
        )
        .collect()  # bounded: S*K = 128 rows of update sums
    )
    cb1: dict = {}
    for r in sums:
        # FLOOR(sum/count) on integer-exact doubles — identical to the
        # oracle's floor-divided update
        ce = np.floor(
            np.asarray([r[f"s{i}"] for i in range(_PQ_D)], dtype=np.float64)
            / r["n"]
        )
        cb1.setdefault(r["s"], []).append((int(r["cid"]), ce))
    cb1 = {
        s: (
            np.asarray(
                [cid for cid, _ in sorted(ents, key=lambda t: t[0])],
                dtype=np.int64,
            ),
            np.stack([ce for _, ce in sorted(ents, key=lambda t: t[0])]),
        )
        for s, ents in cb1.items()
    }

    # per-query ADC distance tables, computed AT THE DRIVER from the
    # already-collected query codes and the trained codebooks: integer
    # values throughout, so float64 order never matters
    qmask = seed_ids < 5
    q_ids = seed_ids[qmask]
    q_codes = seed_codes[qmask]
    qd2 = {}
    for s, (cids, C) in cb1.items():
        cc = (C * C).sum(axis=1)
        x = q_codes[:, s, :]
        qd2[s] = (x * x).sum(axis=1)[:, None] + cc[None, :] - 2.0 * (x @ C.T)

    def adc_topk_arrow(cb: dict, qd2: dict, q_ids: "np.ndarray") -> DataFrame:
        """Pass 2: quantize + nearest-codebook assignment + ADC scoring
        against the driver-held distance tables; emits each task's top-3
        candidates per query (exact: the global top-3 by (adc_dist,
        neighbor_id) is contained in the union of per-task top-3s)."""
        qi = np.asarray(q_ids, dtype=np.int64)

        def batches(it):
            import pyarrow as pa

            Cs = {
                s: (cids, C, (C * C).sum(axis=1)) for s, (cids, C) in cb.items()
            }
            nq = len(qi)
            if nq == 0:
                return
            cand_v = [[] for _ in range(nq)]
            cand_d = [[] for _ in range(nq)]
            for b in it:
                n = b.num_rows
                if n == 0:
                    continue
                vid = np.asarray(b.column(0), dtype=np.int64)
                arr = np.asarray(
                    b.column(1).flatten(), dtype=np.float64
                ).reshape(n, -1)
                subs = _quantize(arr).reshape(n, _PQ_S, _PQ_D)
                dist = np.zeros((n, nq))
                for s, (cids, C, cc) in Cs.items():
                    x = subs[:, s, :]
                    d2 = (
                        (x * x).sum(axis=1)[:, None]
                        + cc[None, :]
                        - 2.0 * (x @ C.T)
                    )
                    best = d2.argmin(axis=1)
                    dist += qd2[s][:, best].T
                for j in range(nq):
                    mask = vid != qi[j]
                    v = vid[mask]
                    d = dist[mask, j]
                    if len(v) == 0:
                        continue
                    idx = np.lexsort((v, d))[:3]
                    cand_v[j].append(v[idx])
                    cand_d[j].append(d[idx])
            outq, outn, outd = [], [], []
            for j in range(nq):
                if not cand_v[j]:
                    continue
                v = np.concatenate(cand_v[j])
                d = np.concatenate(cand_d[j])
                idx = np.lexsort((v, d))[:3]
                outq.append(np.full(len(idx), qi[j], dtype=np.int64))
                outn.append(v[idx])
                outd.append(d[idx])
            if not outq:
                return
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.concatenate(outq)),
                    pa.array(np.concatenate(outn)),
                    pa.array(np.concatenate(outd)),
                ],
                names=["q_id", "neighbor_id", "adc_f"],
            )

        return narrow.mapInArrow(
            batches, "q_id bigint, neighbor_id bigint, adc_f double"
        )

    cand = adc_topk_arrow(cb1, qd2, q_ids)
    w_topk = Window.partitionBy("q_id").orderBy("adc_dist", "neighbor_id")
    return (
        cand.select(
            "q_id",
            "neighbor_id",
            F.col("adc_f").cast("long").alias("adc_dist"),
        )
        .withColumn("rnk", F.row_number().over(w_topk))
        .filter(F.col("rnk") <= 3)
        .select("q_id", "neighbor_id", "adc_dist", "rnk")
    )


@query(
    "eval_embedding_drift",
    oracle="""
WITH halves AS (
    SELECT label, vec_id % 2 AS half, i,
           AVG(CAST(embedding[i] AS DOUBLE)) AS c
    FROM embeddings,
         LATERAL (SELECT unnest(generate_series(1, 64)) AS i)
    GROUP BY label, half, i
), paired AS (
    SELECT a.label, a.i, a.c AS ca, b.c AS cb
    FROM halves a JOIN halves b
      ON a.label = b.label AND a.i = b.i AND a.half = 0 AND b.half = 1
), dots AS (
    SELECT label,
           SUM(ca * cb) AS dot,
           SQRT(SUM(ca * ca)) AS na,
           SQRT(SUM(cb * cb)) AS nb
    FROM paired GROUP BY label
)
SELECT label,
       ROUND(dot / (na * nb), 6) AS centroid_cosine,
       ROUND(1.0 - dot / (na * nb), 6) AS drift
FROM dots
""",
)
def eval_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space drift: per-label centroid of two corpus halves
    (even/odd vec_id — stand-ins for two snapshot dates), compared by
    cosine. Identical distributions give drift≈0; a retrained or corrupted
    embedding pipeline shows up as per-label centroid rotation long before
    downstream metrics move. Completes the drift family (categorical PSI,
    continuous KS/chi², and now vector).

    Scale: centroids are one map-side-combined aggregate over
    (label, half, i) — posexplode is the shuffle-volume price, 64× rows,
    all combined map-side to 2·|labels|·64 cells; the cosine is row-local
    math over that tiny table."""
    e = spread(load_tables(spark, sf_dir, ("embeddings",))["embeddings"], "vec_id")
    # both halves' centroids in ONE (label, i) aggregate: a conditional
    # AVG per half computes the same per-(label, half, i) means the old
    # (label, half, i) groupBy + equi-self-join produced, but with one
    # map-side-combined shuffle and no join — the self-join form also
    # re-ran the 64× posexplode aggregate once per side
    x = F.col("x").cast("double")
    cent = (
        e.select(
            "label",
            (F.col("vec_id") % 2).alias("half"),
            F.posexplode("embedding").alias("i", "x"),
        )
        .groupBy("label", "i")
        .agg(
            F.avg(F.when(F.col("half") == 0, x)).alias("ca"),
            F.avg(F.when(F.col("half") == 1, x)).alias("cb"),
        )
    )
    dots = cent.groupBy("label").agg(
        F.sum(F.col("ca") * F.col("cb")).alias("dot"),
        F.sqrt(F.sum(F.col("ca") * F.col("ca"))).alias("na"),
        F.sqrt(F.sum(F.col("cb") * F.col("cb"))).alias("nb"),
    )
    cos = F.col("dot") / (F.col("na") * F.col("nb"))
    return dots.select(
        "label",
        F.round(cos, 6).alias("centroid_cosine"),
        F.round(1.0 - cos, 6).alias("drift"),
    )


def _layout_dir(sf_dir: str, gate: str) -> str:
    import shutil

    h = run_scope(sf_dir)
    path = os.path.join("/tmp/spark_models_ivf", h, gate)
    shutil.rmtree(path, ignore_errors=True)
    return path


def ivf_partitioned_corpus(
    spark: SparkSession, sf_dir: str, gate: str = "sink_ivf_partitioned_layout"
) -> tuple[DataFrame, str]:
    """Materialize the IVF production layout: the assigned corpus written
    ``partitionBy(cell)`` — the on-disk shape where an ANN query reads
    ~1/n_cells of the data via partition pruning. Returns (read-back
    DataFrame, layout path)."""
    e = spread(load_tables(spark, sf_dir, ("embeddings",))["embeddings"], "vec_id")
    path = _layout_dir(sf_dir, gate)
    _ivf_assigned(e).write.partitionBy("cell").parquet(path)
    return spark.read.parquet(path), path


@query(
    "sink_ivf_partitioned_layout",
    oracle="__SET_BELOW__",
)
def sink_ivf_partitioned_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF SCALE story made physical (what `similarity_ivf_topk`'s
    docstring promises): the assigned corpus is WRITTEN partitioned by
    cell, and the query path runs against that layout — the broadcast
    query side joins on the partition column, so Spark's dynamic
    partition pruning restricts the scan to the probe cells
    (plan-asserted in `tests/test_round5_ops.py`; at 100 TB that is the
    difference between reading ~1/n_cells and a full-corpus scan per
    query batch). Results must equal the in-memory IVF top-k — the
    layout is an access-path change, never an answer change.

    The write is the gate's setup cost (like the DeltaLite lifecycle
    gates, it is excluded from the bench headline: the measured product
    is the layout, not a plan)."""
    corpus, _ = ivf_partitioned_corpus(spark, sf_dir)
    q = (
        corpus.filter(F.col("vec_id") < 3)
        .select(
            F.col("vec_id").alias("q_id"),
            F.col("embedding").alias("q_emb"),
            "cell",
        )
        .withColumn("q_norm", _norm_spark("q_emb"))
    )
    pair_scored = (
        F.broadcast(q)
        .join(
            corpus.alias("a"),
            (F.col("a.cell") == q.cell) & (F.col("a.vec_id") != F.col("q_id")),
        )
        .select(
            "q_id",
            q.cell.alias("cell"),
            F.col("a.vec_id").alias("neighbor_id"),
            F.round(
                F.aggregate(
                    F.zip_with(
                        F.col("q_emb"),
                        F.col("a.embedding"),
                        lambda x, y: x.cast("double") * y.cast("double"),
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
                / (F.col("q_norm") * _norm_spark("a.embedding")),
                4,
            ).alias("cosine"),
        )
    )
    w_topk = Window.partitionBy("q_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        pair_scored.withColumn("rnk", F.row_number().over(w_topk))
        .filter(F.col("rnk") <= 3)
        .select("q_id", "cell", "neighbor_id", "cosine", "rnk")
    )


REGISTRY["sink_ivf_partitioned_layout"].oracle = f"""
SELECT q_id, cell, neighbor_id, cosine, rnk
FROM ({REGISTRY["similarity_ivf_topk"].oracle})
WHERE q_id < 3
"""


@query(
    "similarity_radius_search_ivf",
    oracle=f"""
WITH {_IVF_CELLS_DUCK}, q AS (
    SELECT a.vec_id AS q_id, a.embedding AS q_emb, a.cell,
           SQRT(list_sum(list_transform(a.embedding,
                                        x -> CAST(x AS DOUBLE) * x)))
               AS q_norm
    FROM assigned a WHERE a.vec_id < 10
)
SELECT q_id, neighbor_id, cosine
FROM (
    SELECT q.q_id, a.vec_id AS neighbor_id,
           ROUND(list_dot_product(q.q_emb::DOUBLE[], a.embedding::DOUBLE[])
                 / (q.q_norm *
                    SQRT(list_sum(list_transform(a.embedding,
                                                 x -> CAST(x AS DOUBLE) * x)))),
                 4) AS cosine
    FROM q JOIN assigned a ON a.cell = q.cell AND a.vec_id <> q.q_id
) WHERE cosine >= 0.2
""",
)
def similarity_radius_search_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE (radius) search over the IVF index: every in-cell neighbor
    within a cosine radius, rather than a fixed top-k — the query shape
    behind dedup-by-similarity-threshold and near-duplicate audits,
    where the neighbor COUNT is data-dependent and top-k would silently
    truncate dense neighborhoods.

    Scale: identical pruning to ``similarity_ivf_topk`` — centroids
    broadcast, each query scans only its probe cell (~1/n_cells of the
    corpus; physical partition-per-cell layout makes that a partition
    scan, `sink_ivf_partitioned_layout`) — but with NO per-query window:
    the radius predicate filters row-locally after the in-cell score, so
    the whole query is join + filter, cheaper than top-k at the same
    probe set. Radius recall has the same nprobe lever as top-k recall
    (a neighborhood split across cells needs multi-probe)."""
    e = spread(load_tables(spark, sf_dir, ("embeddings",))["embeddings"], "vec_id")
    assigned = _ivf_assigned(e).persist()
    q = (
        assigned.filter(F.col("vec_id") < 10)
        .select(
            F.col("vec_id").alias("q_id"),
            F.col("embedding").alias("q_emb"),
            "cell",
        )
        .withColumn("q_norm", _norm_spark("q_emb"))
    )
    pair_scored = (
        F.broadcast(q)
        .join(
            assigned.alias("a"),
            (F.col("a.cell") == q.cell) & (F.col("a.vec_id") != F.col("q_id")),
        )
        .select(
            "q_id",
            F.col("a.vec_id").alias("neighbor_id"),
            F.round(
                F.aggregate(
                    F.zip_with(
                        F.col("q_emb"),
                        F.col("a.embedding"),
                        lambda x, y: x.cast("double") * y.cast("double"),
                    ),
                    F.lit(0.0),
                    lambda acc, v: acc + v,
                )
                / (F.col("q_norm") * _norm_spark("a.embedding")),
                4,
            ).alias("cosine"),
        )
    )
    return pair_scored.filter(F.col("cosine") >= 0.2)
