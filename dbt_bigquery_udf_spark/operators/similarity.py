"""Similarity search over the ``embeddings`` table (``array<float>``
column) — brute-force cosine top-k as the exact baseline, a sign-LSH
bucketed variant as the sublinear scale path, and batch multi-query
top-k via broadcast + window ranking.

Everything is built-in higher-order functions (``zip_with`` +
``aggregate`` dot products) — JVM-side, codegen'd, no Python UDFs.
Cosines are rounded to 4 decimals in BOTH engines and every top-k
ordering is (rounded score DESC, id) so tie-breaks are deterministic
and the oracle comparison is exact.

100 TB scale design:

- brute-force single-query: query vector is a literal folded into the
  plan (no join at all); the scan is embarrassingly parallel and the
  only shuffle is the final global top-k — Spark's ``TakeOrderedAndProject``
  keeps per-partition heaps of k and merges on the driver: O(k) network.
- batch top-k: queries side is a broadcast (a few thousand rows max);
  candidates never shuffle — the window partition-by arrives
  pre-partitioned per query after the broadcast join only if we
  repartition; instead rank with a per-(query, candidate) score and a
  window over query_id, which shuffles |Q|·k' rows, not the corpus.
- sign-LSH: bucket id is computed per-row (narrow); the probe touches
  one bucket — at 1000 executors each bucket is a partition-pruned
  fraction of the corpus. Recall/latency trades via n_bits exactly like
  an IVF nprobe=1 index.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..queries import register
from .util import local_rows_df
from ..sources.registry import register_sources
from .streams import scratch_dir, stage_batches, stream_batches

TOP_K = 10
QUERY_VEC_ID = 0  # the corpus vector used as the single-query probe
BATCH_QUERY_IDS = (0, 1, 2, 3, 4)
LSH_BITS = 4  # sign bits of the first 4 dimensions -> 16 buckets

# Dot product / norm over double arrays, shared text for readability.
_DOT = "aggregate(zip_with({a}, {b}, (x, y) -> x * y), cast(0 as double), (s, x) -> s + x)"
_NRM = "sqrt(aggregate(transform({a}, x -> x * x), cast(0 as double), (s, x) -> s + x))"


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = register_sources(spark, sf_dir, tables=("embeddings",))["embeddings"]
    return e.select(
        "vec_id",
        "label",
        F.expr("transform(embedding, x -> cast(x as double))").alias("emb"),
    )


def _cosine_expr(a: str, b: str) -> str:
    # Zero-norm guard: a zero vector (failed encode — present in any
    # real 100 TB corpus) makes cosine NULL instead of ANSI-crashing
    # the job with DIVIDE_BY_ZERO; the oracles carry the same guard and
    # both engines order NULLS LAST under DESC (test_property_diff.py).
    # try_divide, NOT nullif() and NOT a CASE: nullif desugars to a
    # With/CommonExpressionRef node that blocks TakeOrderedAndProject
    # fusion (the shortlist top-k regressed to a full-corpus
    # range-partitioned Sort — caught by test_plans.py), and a CASE
    # duplicates the norm product, which the interpreted higher-order-
    # function path evaluates TWICE per row (measured 3x on
    # sim_topk_brute). try_divide is a single plain Divide(TRY).
    return (
        f"try_divide({_DOT.format(a=a, b=b)}, "
        f"{_NRM.format(a=a)} * {_NRM.format(a=b)})"
    )


# -- brute-force single-query top-k ---------------------------------------


@register(
    "sim_topk_brute",
    f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
    q AS (SELECT emb AS qv FROM e WHERE vec_id = {QUERY_VEC_ID})
    SELECT e.vec_id,
           round((list_dot_product(e.emb, q.qv) / nullif(sqrt(list_dot_product(e.emb, e.emb)) * sqrt(list_dot_product(q.qv, q.qv)), 0)), 4) AS cosine
    FROM e, q
    WHERE e.vec_id <> {QUERY_VEC_ID}
    ORDER BY cosine DESC, e.vec_id
    LIMIT {TOP_K}
    """,
)
def sim_topk_brute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k for one query vector.

    The query vector is collected once (64 floats) and folded into the
    plan as a literal — the scan side never joins or shuffles; the
    global top-k runs as TakeOrderedAndProject (per-partition heaps).
    """
    e = _emb(spark, sf_dir)
    qv = e.filter(F.col("vec_id") == QUERY_VEC_ID).select("emb").head()[0]
    q_lit = F.array(*[F.lit(float(x)) for x in qv]).alias("qv")
    return (
        e.filter(F.col("vec_id") != QUERY_VEC_ID)
        .select("vec_id", "emb", q_lit)
        .select(
            "vec_id",
            F.round(F.expr(_cosine_expr("emb", "qv")), 4).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), "vec_id")
        .limit(TOP_K)
    )


# -- batch multi-query top-k ----------------------------------------------


def _duck_batch_topk() -> str:
    ids = ", ".join(str(i) for i in BATCH_QUERY_IDS)
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
    q AS (SELECT vec_id AS query_id, emb AS qv FROM e WHERE vec_id IN ({ids})),
    scored AS (
      SELECT q.query_id, e.vec_id,
             round((list_dot_product(e.emb, q.qv) / nullif(sqrt(list_dot_product(e.emb, e.emb)) * sqrt(list_dot_product(q.qv, q.qv)), 0)), 4) AS cosine,
             row_number() OVER (
               PARTITION BY q.query_id
               ORDER BY round((list_dot_product(e.emb, q.qv) / nullif(sqrt(list_dot_product(e.emb, e.emb)) * sqrt(list_dot_product(q.qv, q.qv)), 0)), 4) DESC,
                        e.vec_id) AS rk
      FROM e JOIN q ON e.vec_id <> q.query_id
    )
    SELECT query_id, vec_id, cosine FROM scored WHERE rk <= {TOP_K}
    """


@register("sim_topk_batch", _duck_batch_topk())
def sim_topk_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch ANN baseline: top-k per query for a set of query vectors.

    The query set is broadcast (hinted explicitly); scoring is a
    broadcast nested-loop join — the corpus side stays partition-local.
    The window shuffles on query_id only.
    """
    e = _emb(spark, sf_dir)
    q = (
        e.filter(F.col("vec_id").isin(*BATCH_QUERY_IDS))
        .select(F.col("vec_id").alias("query_id"), F.col("emb").alias("qv"))
    )
    from pyspark.sql import Window

    scored = (
        e.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            F.round(F.expr(_cosine_expr("emb", "qv")), 4).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= TOP_K)
        .select("query_id", "vec_id", "cosine")
    )


# -- sign-LSH bucketed ANN -------------------------------------------------

# Bucket = integer from the sign bits of the first LSH_BITS dimensions —
# axis-aligned random-hyperplane LSH, deterministic in both engines.


def _duck_bucket(col: str) -> str:
    return " + ".join(
        f"(CASE WHEN {col}[{i + 1}] > 0 THEN {1 << i} ELSE 0 END)"
        for i in range(LSH_BITS)
    )


def _spark_bucket(col: str) -> str:
    return " + ".join(
        f"(CASE WHEN {col}[{i}] > cast(0 as double) THEN {1 << i} ELSE 0 END)"
        for i in range(LSH_BITS)
    )


@register(
    "sim_lsh_topk",
    f"""
    WITH e AS (
      SELECT vec_id, embedding::DOUBLE[] AS emb,
             {_duck_bucket('(embedding::DOUBLE[])')} AS bucket
      FROM embeddings
    ),
    q AS (SELECT emb AS qv, bucket AS qb FROM e WHERE vec_id = {QUERY_VEC_ID})
    SELECT e.vec_id,
           round((list_dot_product(e.emb, q.qv) / nullif(sqrt(list_dot_product(e.emb, e.emb)) * sqrt(list_dot_product(q.qv, q.qv)), 0)), 4) AS cosine
    FROM e, q
    WHERE e.bucket = q.qb AND e.vec_id <> {QUERY_VEC_ID}
    ORDER BY cosine DESC, e.vec_id
    LIMIT {TOP_K}
    """,
)
def sim_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH ANN: probe only the query's hyperplane bucket.

    The corpus is bucketed per-row (narrow, no shuffle); the probe
    filters to one bucket before scoring, so the scored set is
    ~|corpus| / 2^bits. At scale the bucket id becomes the table's
    partition key and the filter becomes partition pruning.
    """
    e = _emb(spark, sf_dir).withColumn("bucket", F.expr(_spark_bucket("emb")))
    row = e.filter(F.col("vec_id") == QUERY_VEC_ID).select("emb", "bucket").head()
    qv, qb = row[0], row[1]
    q_lit = F.array(*[F.lit(float(x)) for x in qv]).alias("qv")
    return (
        e.filter((F.col("bucket") == qb) & (F.col("vec_id") != QUERY_VEC_ID))
        .select("vec_id", "emb", q_lit)
        .select(
            "vec_id",
            F.round(F.expr(_cosine_expr("emb", "qv")), 4).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), "vec_id")
        .limit(TOP_K)
    )


# -- bucket histogram (index-build introspection) --------------------------


@register(
    "sim_lsh_buckets",
    f"""
    SELECT {_duck_bucket('(embedding::DOUBLE[])')} AS bucket,
           count(*) AS n_vectors,
           min(vec_id) AS min_vec_id
    FROM embeddings
    GROUP BY 1
    """,
)
def sim_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH index statistics: vectors per bucket — the skew diagnostic
    you run before trusting nprobe=1 at scale."""
    e = _emb(spark, sf_dir).withColumn("bucket", F.expr(_spark_bucket("emb")))
    return e.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.min("vec_id").alias("min_vec_id"),
    )


# -- IVF (centroid-bucketed) ANN -------------------------------------------


@register(
    "sim_ivf_topk",
    f"""
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings),
    cent AS (
      SELECT label, pos, round(avg(v), 6) AS av FROM (
        SELECT label, generate_subscripts(emb, 1) AS pos, unnest(emb) AS v FROM e
      ) GROUP BY label, pos
    ),
    carr AS (
      SELECT label, list(av ORDER BY pos) AS cvec FROM cent GROUP BY label
    ),
    q AS (SELECT emb AS qv FROM e WHERE vec_id = {QUERY_VEC_ID}),
    best AS (
      SELECT carr.label FROM carr, q
      ORDER BY (list_dot_product(carr.cvec, q.qv) / nullif(sqrt(list_dot_product(carr.cvec, carr.cvec)) * sqrt(list_dot_product(q.qv, q.qv)), 0)) DESC, carr.label
      LIMIT 1
    )
    SELECT e.vec_id, round((list_dot_product(e.emb, q.qv) / nullif(sqrt(list_dot_product(e.emb, e.emb)) * sqrt(list_dot_product(q.qv, q.qv)), 0)), 4) AS cosine
    FROM e, q, best
    WHERE e.label = best.label AND e.vec_id <> {QUERY_VEC_ID}
    ORDER BY cosine DESC, e.vec_id
    LIMIT {TOP_K}
    """,
)
def sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: train centroids (per-label element-wise means via
    posexplode + groupBy — the distributed centroid-update step of
    k-means), assign the query to its nearest centroid, search only
    that inverted list.

    The index-build is fully distributed (the shuffle carries
    |labels| x dim partial averages); the probe reads one bucket —
    |corpus| / |lists| vectors, the IVF nprobe=1 contract. Centroid
    components are rounded identically on both engines so the
    nearest-centroid assignment is deterministic.

    Scale: at 1B vectors the inverted lists are the table's partition
    key (probe = partition pruning); k-means iterations reuse exactly
    this assign (cosine argmax) + update (posexplode average) pair.
    """
    e = _emb(spark, sf_dir)
    pe = e.select("label", F.posexplode("emb").alias("pos", "v"))
    cent = pe.groupBy("label", "pos").agg(F.round(F.avg("v"), 6).alias("av"))
    carr = (
        cent.groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "av"))).alias("pa"))
        .select("label", F.expr("transform(pa, x -> x.av)").alias("cvec"))
    )
    qv = e.filter(F.col("vec_id") == QUERY_VEC_ID).select("emb").head()[0]
    q_lit = F.array(*[F.lit(float(x)) for x in qv])
    best = (
        carr.withColumn("qv", q_lit)
        .select("label", F.expr(_cosine_expr("cvec", "qv")).alias("csim"))
        .orderBy(F.col("csim").desc(), "label")
        .limit(1)
    )
    best_label = best.head()[0]
    return (
        e.filter((F.col("label") == best_label) & (F.col("vec_id") != QUERY_VEC_ID))
        .withColumn("qv", q_lit)
        .select(
            "vec_id",
            F.round(F.expr(_cosine_expr("emb", "qv")), 4).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), "vec_id")
        .limit(TOP_K)
    )


# -- embedding analytics ---------------------------------------------------


@register(
    "emb_label_centroids",
    """
    WITH dims AS (
      SELECT label, i, printf('%.4f', round(avg(embedding[i]), 4) + 0.0) AS v
      FROM embeddings, generate_series(1, 64) s(i)
      GROUP BY label, i
    )
    SELECT label, count(*) AS n_dims,
           array_to_string(list(v ORDER BY i), ',') AS centroid
    FROM dims GROUP BY label
    """,
)
def emb_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid of the embedding vectors (dimension-wise mean)
    — the class-prototype computation under IVF training, cluster
    quality checks, and centroid-based dedup.

    posexplode flattens (vector, position) so the mean is an ordinary
    codegen'd aggregate per (label, dim) — no Python, no HOF lambda in
    the hot path (SCALE.md local-mode lesson #1); the 64-element
    reassembly happens on |labels| x 64 rows. The centroid is emitted
    as a fixed-point (%.4f) comma-joined string so the value hash is
    engine-neutral — double-to-string rendering differs across engines
    (Spark says 3.0E-4 where DuckDB says 0.0003).

    Scale: the shuffle carries |labels| x dims x partials — constant in
    row count; this is THE pattern for computing per-class statistics
    over billions of vectors.
    """
    emb = register_sources(spark, sf_dir)["embeddings"]
    dims = (
        emb.select("label", F.posexplode("embedding").alias("pos", "v"))
        .groupBy("label", "pos")
        # + 0.0 collapses IEEE negative zero (round(-1e-6, 4) -> -0.0
        # formats as "-0.0000" in one engine and "0.0000" in the other).
        .agg(
            F.format_string("%.4f", F.round(F.avg("v"), 4) + F.lit(0.0)).alias("v")
        )
    )
    return dims.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_dims"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "v"))),
                lambda s: s["v"],
            ),
            ",",
        ).alias("centroid"),
    )


@register(
    "emb_norm_stats",
    """
    WITH norms AS (
      SELECT vec_id, label, sqrt(sum(v * v)) AS l2
      FROM (SELECT vec_id, label, unnest(embedding) AS v FROM embeddings)
      GROUP BY vec_id, label
    )
    SELECT label, count(*) AS n,
           round(avg(l2), 4) AS avg_norm,
           round(min(l2), 4) AS min_norm,
           round(max(l2), 4) AS max_norm
    FROM norms GROUP BY label
    """,
)
def emb_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label L2-norm distribution — the standard embedding-health
    check (unnormalized vectors break cosine ANN assumptions).

    Same explode-then-aggregate shape as the centroids: norms are a
    per-vector sum of squares (codegen'd), then constant-state
    aggregates per label.
    """
    emb = register_sources(spark, sf_dir)["embeddings"]
    norms = (
        emb.select("vec_id", "label", F.posexplode("embedding").alias("pos", "v"))
        .groupBy("vec_id", "label")
        .agg(F.sqrt(F.sum(F.col("v") * F.col("v"))).alias("l2"))
    )
    return norms.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("l2"), 4).alias("avg_norm"),
        F.round(F.min("l2"), 4).alias("min_norm"),
        F.round(F.max("l2"), 4).alias("max_norm"),
    )


@register(
    "emb_quantize_int8",
    """
    WITH bounds AS (
      SELECT CAST(min(list_min(embedding)) AS DOUBLE) AS lo,
             (CAST(max(list_max(embedding)) AS DOUBLE)
              - CAST(min(list_min(embedding)) AS DOUBLE)) / 254.0 AS scale
      FROM embeddings
    )
    SELECT vec_id,
           CAST(round((CAST(embedding[1] AS DOUBLE) - lo) / scale) AS BIGINT) - 127 AS q0,
           CAST(round((CAST(embedding[2] AS DOUBLE) - lo) / scale) AS BIGINT) - 127 AS q1,
           CAST(round((CAST(embedding[3] AS DOUBLE) - lo) / scale) AS BIGINT) - 127 AS q2,
           CAST(round((CAST(embedding[4] AS DOUBLE) - lo) / scale) AS BIGINT) - 127 AS q3,
           round(list_max(list_transform(embedding,
                 x -> abs(CAST(x AS DOUBLE)
                          - (lo + round((CAST(x AS DOUBLE) - lo) / scale)
                             * scale)))), 6) AS max_abs_err
    FROM embeddings CROSS JOIN bounds
    """,
)
def emb_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar int8 quantization of the embedding corpus — the standard
    vector-index compression step (4x memory cut before ANN serving).
    Emits the first four codes per vector plus the per-vector maximum
    reconstruction error (the quality metric that decides whether int8
    is safe for the collection).

    Two-pass by design, like every stats-then-transform quantizer: pass
    one reduces the corpus to global (min, max) — computed as per-row
    array_min/array_max then a constant-state aggregate, no explode —
    and pass two re-reads the vectors and quantizes against the
    broadcast bounds row. The transform lambda is per-row over a
    64-element array (bounded), within the engine's HOF-off-the-hot-path
    rule.

    Value parity note: float32 -> double widening is exact and every
    per-element operation is identical on both engines, so even the
    1e-3-magnitude reconstruction errors hash-match at 6 decimals.
    """
    emb = _emb(spark, sf_dir).select("vec_id", F.col("emb").alias("embedding"))
    bounds = emb.agg(
        F.min(F.array_min("embedding")).alias("lo"),
        (
            (F.max(F.array_max("embedding")) - F.min(F.array_min("embedding")))
            / 254.0
        ).alias("scale"),
    )
    q = emb.crossJoin(F.broadcast(bounds))
    # A constant corpus makes scale 0; try_divide yields NULL codes
    # (matching DuckDB's x/0 -> NULL) instead of an ANSI crash.
    scale = F.col("scale")
    code = lambda i: (  # noqa: E731
        F.round(
            F.try_divide(F.element_at("embedding", i) - F.col("lo"), scale), 0
        )
        .cast("bigint")
        - 127
    )
    dequant_err = F.transform(
        "embedding",
        lambda x: F.abs(
            x
            - (
                F.col("lo")
                + F.round(F.try_divide(x - F.col("lo"), scale), 0) * scale
            )
        ),
    )
    return q.select(
        "vec_id",
        code(1).alias("q0"),
        code(2).alias("q1"),
        code(3).alias("q2"),
        code(4).alias("q3"),
        F.round(F.array_max(dequant_err), 6).alias("max_abs_err"),
    )


# -- k-means (one Lloyd iteration, the IVF-training inner loop) -----------

def _kmeans_wide(e: DataFrame, dims: int = 64) -> DataFrame:
    """Unpack the embedding into e0..e{dims-1} doubles: centroid
    distances become FLAT arithmetic chains (whole-stage codegen)
    instead of zip_with/aggregate lambdas, which evaluate interpreted —
    the scale probe measured the HOF form 7x slower at x30 (same lesson
    as _cluster_assigned / sim_ivfpq_adc)."""
    return e.selectExpr(
        "vec_id", "emb", *[f"emb[{i}] AS e{i}" for i in range(dims)]
    )


_PERSIST_LOCK = __import__("threading").Lock()
_PERSIST_REFS: dict[int, int] = {}


class _refcounted_persist:
    """Refcounted ``persist`` keyed on the plan's semantic hash (ADVICE
    r11 medium): ``emb_kcenter_init`` and ``emb_kmeans_train`` persist
    the IDENTICAL canonical plan ``_kmeans_wide(_emb(...))``, and
    Spark's CacheManager dedupes cached plans — so when the audit runs
    them concurrently, the first branch's ``unpersist()`` dropped the
    shared entry while the other branch's driver loop was still
    iterating, silently recomputing the full embedding lineage per
    step. Here the LAST holder unpersists; persist/unpersist happen
    under one lock so a finishing branch can never drop an entry a
    starting branch just registered."""

    def __init__(self, df: DataFrame):
        self.df = df
        self.key = int(
            df._jdf.queryExecution().analyzed().semanticHash()
        )

    def __enter__(self) -> DataFrame:
        with _PERSIST_LOCK:
            _PERSIST_REFS[self.key] = _PERSIST_REFS.get(self.key, 0) + 1
            self.df.persist()
        return self.df

    def __exit__(self, *exc) -> None:
        with _PERSIST_LOCK:
            n = _PERSIST_REFS.get(self.key, 1) - 1
            if n <= 0:
                _PERSIST_REFS.pop(self.key, None)
                self.df.unpersist()
            else:
                _PERSIST_REFS[self.key] = n


def _sq_dist_sql(cv: list[float]) -> str:
    """Squared distance to a literal centroid as a flat left-assoc sum —
    numerically identical to the fold (0.0 + t0 + ... ; squares are
    non-negative so the dropped leading 0.0 is exact). `!r`+`D` keeps
    the literals shortest-roundtrip DOUBLEs."""
    return " + ".join(
        f"(e{i} - {v!r}D) * (e{i} - {v!r}D)" for i, v in enumerate(cv)
    )


def _assign_enc(
    spark: SparkSession,
    wide: DataFrame,
    cents: list[tuple[int, list[float]]],
    dims: int = 64,
) -> DataFrame:
    """(vec_id, enc) assignment via a broadcast centroid crossJoin and
    min over integer encodings round(d,6)*1e6*100000 + cid — the SAME
    total order as the oracle's '%015.6f|%05d' string min (ties on the
    rounded distance break on cid), and the decoded d_micro/1e6 is the
    identical double to parsing the oracle's 6-decimal string.

    This is the `_cluster_assigned` shape, chosen over two measured
    dead ends: per-centroid zip_with/aggregate lambdas evaluate
    INTERPRETED (11x at the x30 probe), and folding k x 64 literal
    chains into the plan costs ~2.5s of per-run analysis/codegen at ANY
    scale. One 64-term codegen'd chain over a k-row broadcast + a
    narrow (vec_id, enc) min-aggregate keeps both the plan and the
    execution small."""
    cents_wide = local_rows_df(spark, 
        [(cid, *cv) for cid, cv in cents],
        "cid int, " + ", ".join(f"c{i} double" for i in range(dims)),
    )
    sq = " + ".join(f"(e{i} - c{i}) * (e{i} - c{i})" for i in range(dims))
    enc = (
        f"cast(round(round(sqrt({sq}), 6) * 1e6) as bigint) * 100000 + cid"
    )
    # emb rides the SAME aggregation (first() over k identical copies)
    # so consumers need no join-back: the map-side partial min/first
    # collapses the k crossJoin copies before the exchange, so the
    # shuffle carries n x (enc + emb) — the same bytes a join-back
    # would move, one exchange fewer.
    return (
        wide.crossJoin(F.broadcast(cents_wide))
        .selectExpr("vec_id", f"({enc}) AS enc", "emb")
        .groupBy("vec_id")
        .agg(F.min("enc").alias("enc"), F.first("emb").alias("emb"))
    )


KMEANS_K = 4


@register(
    "emb_kmeans_step",
    f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
    c AS (SELECT vec_id AS cid, emb AS cv FROM e WHERE vec_id < {KMEANS_K}),
    pick AS (
      SELECT e.vec_id,
             min(printf('%015.6f|%05d',
                        round(list_distance(e.emb, c.cv), 6), c.cid)) AS p
      FROM e, c GROUP BY e.vec_id
    ),
    a AS (SELECT vec_id, CAST(substr(p, 17, 5) AS INT) AS cluster_id FROM pick),
    dims AS (
      SELECT a.cluster_id, i, round(avg(e.emb[i]), 4) + 0.0 AS m
      FROM a JOIN e USING (vec_id), generate_series(1, 64) s(i)
      GROUP BY a.cluster_id, i
    ),
    counts AS (SELECT cluster_id, count(*) AS n_vecs FROM a GROUP BY 1),
    norms AS (
      SELECT cluster_id,
             printf('%.4f', round(sqrt(sum(m * m)), 4) + 0.0) AS centroid_norm
      FROM dims GROUP BY 1
    )
    SELECT cluster_id, n_vecs, centroid_norm
    FROM counts JOIN norms USING (cluster_id)
    ORDER BY cluster_id
    """,
)
def emb_kmeans_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Lloyd iteration of k-means (k=4, deterministic init: the k
    lowest vec_ids) — the inner loop of IVF index training and of
    centroid-based corpus clustering; iterating this step to a fixed
    point is the full algorithm, and each step is oracle-checkable.

    Assignment is the `_assign_enc` broadcast shape (see its docstring
    for the two measured dead ends it replaces): one codegen'd 64-term
    distance chain over a k-row broadcast crossJoin, integer-encoded
    argmin (same total order as the oracle's '%015.6f|%05d' string min,
    ties on cid), and a narrow per-vector min-aggregate that carries
    emb map-side. The update step is the posexplode + per-(cluster,
    dim) mean pattern from emb_label_centroids: shuffle volume is
    k x dims partials, constant in corpus size.

    Scale: at 100 TB per iteration this is one scan + one narrow
    per-vector aggregate + one k x 64-cell aggregate; the driver-side
    collect is k vectors. The broadcast centroid table already IS the
    large-k production form.
    """
    e = _emb(spark, sf_dir)
    cents = [
        (int(r["vec_id"]), [float(x) for x in r["emb"]])
        for r in e.filter(F.col("vec_id") < KMEANS_K).select("vec_id", "emb").collect()
    ]
    assigned = _assign_enc(spark, _kmeans_wide(e), cents).select(
        "vec_id",
        "emb",
        (F.col("enc") % 100000).cast("int").alias("cluster_id"),
    )
    # counts ride the exploded dim aggregation (every vector contributes
    # each pos once, so count(*) is identical across a cluster's 64
    # (cid, pos) groups — same fusion as the trainer): ONE assignment
    # evaluation, one scan, no counts-vs-norms join at all.
    dims = (
        assigned.select("cluster_id", F.posexplode("emb").alias("pos", "v"))
        .groupBy("cluster_id", "pos")
        .agg(
            (F.round(F.avg("v"), 4) + F.lit(0.0)).alias("m"),
            F.count(F.lit(1)).alias("nv"),
        )
    )
    return (
        dims.groupBy("cluster_id")
        .agg(
            F.max("nv").alias("n_vecs"),
            F.format_string(
                "%.4f",
                F.round(F.sqrt(F.sum(F.col("m") * F.col("m"))), 4) + F.lit(0.0),
            ).alias("centroid_norm"),
        )
        .select("cluster_id", "n_vecs", "centroid_norm")
        .orderBy("cluster_id")
    )


# -- k-means TRAINING (Lloyd's iterated — the full IVF trainer) ------------

KMEANS_TRAIN_ROUNDS = 3


def _duck_kmeans_train() -> str:
    """Unrolled-CTE DuckDB twin of the iterated Lloyd trainer: round r
    assigns against the round r-1 centroids, then recomputes them —
    the same unroll-the-loop oracle pattern as PageRank-converged."""
    ctes = [
        "e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings)",
        f"c0 AS (SELECT vec_id AS cid, emb AS cv FROM e WHERE vec_id < {KMEANS_K})",
    ]
    for r in range(1, KMEANS_TRAIN_ROUNDS + 1):
        ctes += [
            f"""p{r} AS (
      SELECT e.vec_id,
             min(printf('%015.6f|%05d',
                        round(list_distance(e.emb, c.cv), 6), c.cid)) AS p
      FROM e, c{r - 1} c GROUP BY e.vec_id
    )""",
            f"""a{r} AS (
      SELECT vec_id, CAST(substr(p, 17, 5) AS INT) AS cid,
             CAST(substr(p, 1, 15) AS DOUBLE) AS d
      FROM p{r}
    )""",
            f"""s{r} AS (
      SELECT {r} AS round, cid AS cluster_id, count(*) AS n_vecs,
             CAST(sum(CAST(floor(d * d * 1e6 + 0.5) AS BIGINT))
                  AS BIGINT) AS inertia_micros
      FROM a{r} GROUP BY cid
    )""",
            f"""dims{r} AS (
      SELECT a.cid, i, round(avg(e.emb[i]), 4) + 0.0 AS m
      FROM a{r} a JOIN e USING (vec_id), generate_series(1, 64) s(i)
      GROUP BY a.cid, i
    )""",
            f"""c{r} AS (SELECT cid, list(m ORDER BY i) AS cv FROM dims{r} GROUP BY cid)""",
            f"""n{r} AS (
      SELECT cid AS cluster_id,
             printf('%.4f', round(sqrt(sum(m * m)), 4) + 0.0) AS centroid_norm
      FROM dims{r} GROUP BY cid
    )""",
        ]
    unions = "\n    UNION ALL ".join(
        f"SELECT round, cluster_id, n_vecs, centroid_norm, inertia_micros\n"
        f"    FROM s{r} JOIN n{r} USING (cluster_id)"
        for r in range(1, KMEANS_TRAIN_ROUNDS + 1)
    )
    return (
        "WITH " + ",\n    ".join(ctes) + "\n    " + unions
        + "\n    ORDER BY round, cluster_id"
    )


@register("emb_kmeans_train", _duck_kmeans_train())
def emb_kmeans_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd's k-means iterated {KMEANS_TRAIN_ROUNDS} rounds (k=4,
    deterministic lowest-vec_id init) — the full IVF-index training
    loop next to the single oracle-checkable step (emb_kmeans_step),
    emitting the per-round training trajectory: cluster sizes, centroid
    norms, and integer-exact inertia (what a production trainer logs to
    decide k and convergence).

    Round r semantics (both engines identically): assign every vector
    against the round r-1 centroids (argmin encoded as min over
    '%015.6f|%05d'(dist, cid) strings — distance ties break on cid),
    log n_vecs + inertia of THAT assignment, then recompute centroids
    as per-(cluster, dim) means rounded to 4 decimals. Inertia travels
    as integer micro-units via floor(d*d*1e6 + 0.5) where d is parsed
    back from the SAME 15-char distance string in both engines, so the
    per-cluster sum is bit-exact regardless of addition order.

    Scale: per round, assignment is k x 64 literal-folded distances
    (no join, no shuffle — centroids ride the plan) over the PERSISTED
    corpus, and the update shuffles only k x dims partial aggregates;
    every driver collect is k-bounded (k summary rows + k x 64 centroid
    cells). The returned trajectory is a driver-built k x rounds-row
    DataFrame, so the cached corpus is released before return. This is
    exactly the kmeans|| production shape minus sampled init; swapping
    the literal centroids for a broadcast join generalizes to large k.
    """
    with _refcounted_persist(
        _kmeans_wide(_emb(spark, sf_dir).select("vec_id", "emb"))
    ) as e:
        return _kmeans_train_loop(spark, e)


def _kmeans_train_loop(spark: SparkSession, e: DataFrame) -> DataFrame:
    cents = [
        (int(r["vec_id"]), [float(x) for x in r["emb"]])
        for r in e.filter(F.col("vec_id") < KMEANS_K).select("vec_id", "emb").collect()
    ]
    out_rows: list[tuple] = []
    for rnd in range(1, KMEANS_TRAIN_ROUNDS + 1):
        assigned = _assign_enc(spark, e, cents).select(
            "emb",
            (F.col("enc") % 100000).cast("int").alias("cid"),
            # d_micro/1e6 is the same double as parsing the oracle's
            # 6-decimal string: both nearest-double of one decimal.
            (
                (F.col("enc") - F.col("enc") % 100000)
                / F.lit(100000)
                / F.lit(1e6)
            ).alias("d"),
        )
        # ONE exploded aggregation per round carries the dim means AND
        # the round stats: every vector contributes each pos exactly
        # once, so count(*) and the inertia sum are IDENTICAL across a
        # cid's 64 (cid, pos) groups and the driver reads them from the
        # pos=0 slice. One scan of the cached corpus, one shuffle of
        # k x 64 x 3 partials, one k x 64-row collect per round. (A
        # 64-wide avg(get(emb, i)) single-group variant measured 1.25x
        # SLOWER than this exploded single-buffer form — same lesson as
        # the minhash signature build; and try_element_at's TryEval
        # wrapper costs another 1.2x by dropping out of codegen.)
        round_rows = (
            assigned.select(
                "cid", "d", F.posexplode("emb").alias("pos", "v")
            )
            .groupBy("cid", "pos")
            .agg(
                (F.round(F.avg("v"), 4) + F.lit(0.0)).alias("m"),
                F.count(F.lit(1)).alias("n_vecs"),
                F.sum(
                    F.floor(F.col("d") * F.col("d") * F.lit(1e6) + F.lit(0.5)).cast(
                        "bigint"
                    )
                ).alias("inertia_micros"),
            )
            .collect()
        )
        by_cid: dict[int, list[float]] = {}
        stats: dict[int, tuple[int, int]] = {}
        for row in round_rows:
            cid, pos = int(row["cid"]), int(row["pos"])
            by_cid.setdefault(cid, [0.0] * 64)[pos] = float(row["m"])
            if pos == 0:
                stats[cid] = (int(row["n_vecs"]), int(row["inertia_micros"]))
        cents = sorted(by_cid.items())
        for cid, cv in cents:
            norm = round(sum(m * m for m in cv) ** 0.5, 4) + 0.0
            n_vecs, inertia = stats[cid]
            out_rows.append((rnd, cid, n_vecs, "%.4f" % norm, inertia))
    return local_rows_df(spark,
        sorted(out_rows),
        "round int, cluster_id int, n_vecs bigint, "
        "centroid_norm string, inertia_micros bigint",
    )


# -- multi-probe LSH (the recall dial) -------------------------------------


@register(
    "sim_lsh_multiprobe",
    f"""
    WITH e AS (
      SELECT vec_id, embedding::DOUBLE[] AS emb,
             {_duck_bucket('(embedding::DOUBLE[])')} AS bucket
      FROM embeddings
    ),
    q AS (SELECT emb AS qv, bucket AS qb FROM e WHERE vec_id = {QUERY_VEC_ID})
    SELECT e.vec_id,
           round((list_dot_product(e.emb, q.qv) / nullif(sqrt(list_dot_product(e.emb, e.emb)) * sqrt(list_dot_product(q.qv, q.qv)), 0)), 4) AS cosine
    FROM e, q
    WHERE e.bucket IN (q.qb, xor(q.qb, 1), xor(q.qb, 2), xor(q.qb, 4), xor(q.qb, 8))
      AND e.vec_id <> {QUERY_VEC_ID}
    ORDER BY cosine DESC, e.vec_id
    LIMIT {TOP_K}
    """,
)
def sim_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe sign-LSH: probe the query's bucket plus every bucket
    at Hamming distance 1 (flip each of the {LSH_BITS} hyperplane bits)
    — 5 of 16 buckets, ~31% of the corpus scored instead of ~6%.

    This is the recall dial ANN search runs on: a vector near a
    hyperplane lands on either side with ~equal probability, and
    distance-1 probes recover exactly those boundary misses — recall
    rises monotonically with probe count at proportional scan cost
    (pinned by tests/test_recall.py). At 100 TB nothing changes
    structurally: the probe set is still a partition-pruned IN filter
    on the bucket key; nprobe is chosen from the measured
    recall/latency curve, not re-architecture. NOTE the driver's
    synthetic embeddings are near-random (no cluster structure), so
    absolute recall here is fraction-scanned-proportional by design;
    on real embedding corpora the same dial saturates much faster.
    """
    e = _emb(spark, sf_dir).withColumn("bucket", F.expr(_spark_bucket("emb")))
    row = e.filter(F.col("vec_id") == QUERY_VEC_ID).select("emb", "bucket").head()
    qv, qb = row[0], int(row[1])
    probes = [qb] + [qb ^ (1 << i) for i in range(LSH_BITS)]
    q_lit = F.array(*[F.lit(float(x)) for x in qv]).alias("qv")
    return (
        e.filter(F.col("bucket").isin(probes) & (F.col("vec_id") != QUERY_VEC_ID))
        .select("vec_id", "emb", q_lit)
        .select(
            "vec_id",
            F.round(F.expr(_cosine_expr("emb", "qv")), 4).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), "vec_id")
        .limit(TOP_K)
    )


IVF_NPROBE = 3

# Shared oracle prefix: IVF centroid build + nprobe probe selection --
# the DuckDB twin of _ivf_probe_lists, defined once for both IVF oracles.
_DUCK_IVF_PROBES = f"""\n    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings),
    cent AS (
      SELECT label, pos, round(avg(v), 6) AS av FROM (
        SELECT label, generate_subscripts(emb, 1) AS pos, unnest(emb) AS v FROM e
      ) GROUP BY label, pos
    ),
    carr AS (
      SELECT label, list(av ORDER BY pos) AS cvec FROM cent GROUP BY label
    ),
    q AS (SELECT emb AS qv FROM e WHERE vec_id = {QUERY_VEC_ID}),
    best AS (
      SELECT carr.label FROM carr, q
      ORDER BY (list_dot_product(carr.cvec, q.qv) / nullif(sqrt(list_dot_product(carr.cvec, carr.cvec)) * sqrt(list_dot_product(q.qv, q.qv)), 0)) DESC, carr.label
      LIMIT {IVF_NPROBE}
    )"""




def _ivf_probe_lists(e: DataFrame):
    """Shared IVF stage: per-label centroids (posexplode build), query
    vector as a plan literal, and the nprobe nearest list ids AS A
    DATAFRAME — used by sim_ivf_multiprobe / sim_ivf_rerank /
    sim_ivfpq_adc so the probe-selection semantics (centroid rounding,
    csim tie-break) live in ONE place. Returns (q_lit, probes_df).

    The probe set stays plan-side (callers broadcast-semi-join it onto
    the candidate scan) instead of collecting to the driver: one fewer
    driver round-trip per query, and at scale the nprobe-row probe
    relation broadcasts for free while still pruning list partitions.
    """
    pe = e.select("label", F.posexplode("emb").alias("pos", "v"))
    cent = pe.groupBy("label", "pos").agg(F.round(F.avg("v"), 6).alias("av"))
    carr = (
        cent.groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "av"))).alias("pa"))
        .select("label", F.expr("transform(pa, x -> x.av)").alias("cvec"))
    )
    qv = e.filter(F.col("vec_id") == QUERY_VEC_ID).select("emb").head()[0]
    q_lit = F.array(*[F.lit(float(x)) for x in qv])
    probes_df = (
        carr.withColumn("qv", q_lit)
        .select("label", F.expr(_cosine_expr("cvec", "qv")).alias("csim"))
        .orderBy(F.col("csim").desc(), "label")
        .limit(IVF_NPROBE)
        .select("label")
    )
    return q_lit, probes_df


@register(
    "sim_ivf_multiprobe",
    _DUCK_IVF_PROBES + f"""
    SELECT e.vec_id, round((list_dot_product(e.emb, q.qv) / nullif(sqrt(list_dot_product(e.emb, e.emb)) * sqrt(list_dot_product(q.qv, q.qv)), 0)), 4) AS cosine
    FROM e, q
    WHERE e.label IN (SELECT label FROM best) AND e.vec_id <> {QUERY_VEC_ID}
    ORDER BY cosine DESC, e.vec_id
    LIMIT {TOP_K}
    """,
)
def sim_ivf_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with nprobe={IVF_NPROBE}: search the query's {IVF_NPROBE}
    nearest inverted lists instead of one — IVF's recall dial, the
    twin of sim_lsh_multiprobe's Hamming probes.

    The centroid ranking is a |lists|-row sort (driver-cheap); the
    probe is still a partition-prunable IN filter on the list key, now
    matching nprobe partitions. Recall monotonicity vs nprobe=1 is
    pinned by tests/test_recall.py; the same synthetic-corpus caveat
    applies (near-random vectors -> recall tracks fraction scanned).
    """
    e = _emb(spark, sf_dir)
    q_lit, probes_df = _ivf_probe_lists(e)
    return (
        e.filter(F.col("vec_id") != QUERY_VEC_ID)
        .join(F.broadcast(probes_df), "label", "left_semi")
        .withColumn("qv", q_lit)
        .select(
            "vec_id",
            F.round(F.expr(_cosine_expr("emb", "qv")), 4).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), "vec_id")
        .limit(TOP_K)
    )


# -- two-stage retrieval: cheap shortlist -> exact re-rank -----------------

RERANK_DIMS = 16  # stage-1 score uses only the first 16 of 64 dims
RERANK_SHORTLIST = 50


@register(
    "sim_ivf_rerank",
    _DUCK_IVF_PROBES + f""",
    shortlist AS (
      SELECT e.vec_id, e.emb,
             (list_dot_product(e.emb[1:{RERANK_DIMS}], q.qv[1:{RERANK_DIMS}])
              / nullif(sqrt(list_dot_product(e.emb[1:{RERANK_DIMS}],
                                             e.emb[1:{RERANK_DIMS}]))
                       * sqrt(list_dot_product(q.qv[1:{RERANK_DIMS}],
                                               q.qv[1:{RERANK_DIMS}])), 0))
               AS approx
      FROM e, q
      WHERE e.label IN (SELECT label FROM best)
        AND e.vec_id <> {QUERY_VEC_ID}
      ORDER BY approx DESC, e.vec_id
      LIMIT {RERANK_SHORTLIST}
    )
    SELECT s.vec_id, round((list_dot_product(s.emb, q.qv) / nullif(sqrt(list_dot_product(s.emb, s.emb)) * sqrt(list_dot_product(q.qv, q.qv)), 0)), 4) AS cosine
    FROM shortlist s, q
    ORDER BY cosine DESC, s.vec_id
    LIMIT {TOP_K}
    """,
)
def sim_ivf_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage retrieval, the production ANN serving architecture:
    IVF probing bounds the SCAN (nprobe lists), a cheap
    first-{RERANK_DIMS}-dims score bounds the COMPUTE (shortlist of
    {RERANK_SHORTLIST}), and exact cosine runs only on the shortlist.
    The two dials are independent: nprobe trades recall against bytes
    read, shortlist size against full-precision math — exactly how
    FAISS-style IVF-PQ systems split the budget (the truncated-dims
    score stands in for the PQ/int8 approximate distance; swap in the
    emb_quantize_int8 codes for the real thing).

    Shape: stage 1 is a filtered scan + TakeOrdered of
    {RERANK_SHORTLIST} rows carrying their vectors; stage 2 re-scores
    those rows driver-free in the same plan (no second scan — the
    shortlist flows, never re-fetches). Both tie-breaks are on vec_id
    so the result is engine-deterministic.
    """
    e = _emb(spark, sf_dir)
    q_lit, probes_df = _ivf_probe_lists(e)
    # Stage 1 carries only (vec_id, emb, approx) through the TakeOrdered
    # heap — the query vector is a plan constant, its sliced prefix
    # folds into the approx expression, and the full literal attaches
    # AFTER the shortlist limit, where stage 2 (its only consumer) runs.
    shortlist = (
        e.filter(F.col("vec_id") != QUERY_VEC_ID)
        .join(F.broadcast(probes_df), "label", "left_semi")
        .withColumn("emb16", F.expr(f"slice(emb, 1, {RERANK_DIMS})"))
        .withColumn("qv16", F.slice(q_lit, 1, RERANK_DIMS))
        .select(
            "vec_id",
            "emb",
            F.expr(_cosine_expr("emb16", "qv16")).alias("approx"),
        )
        .orderBy(F.col("approx").desc(), "vec_id")
        .limit(RERANK_SHORTLIST)
    )
    return (
        shortlist.withColumn("qv", q_lit)
        .select(
            "vec_id",
            F.round(F.expr(_cosine_expr("emb", "qv")), 4).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), "vec_id")
        .limit(TOP_K)
    )


# -- binary quantization + Hamming shortlist (1-bit ANN) -------------------

HAMMING_SHORTLIST = 50  # stage-1 candidates kept by Hamming distance


@register(
    "sim_hamming_topk",
    f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
    q AS (SELECT emb AS qv FROM e WHERE vec_id = {QUERY_VEC_ID}),
    h AS (
      SELECT e.vec_id, e.emb, q.qv,
             CAST(len(list_filter(range(1, len(e.emb) + 1),
                 i -> (e.emb[i] > 0) <> (q.qv[i] > 0))) AS BIGINT)
               AS hamming
      FROM e, q WHERE e.vec_id <> {QUERY_VEC_ID}
    ),
    short AS (
      SELECT * FROM h ORDER BY hamming, vec_id LIMIT {HAMMING_SHORTLIST}
    )
    SELECT vec_id, hamming,
           round((list_dot_product(emb, qv) / nullif(sqrt(list_dot_product(emb, emb)) * sqrt(list_dot_product(qv, qv)), 0)), 4) AS cosine
    FROM short
    ORDER BY cosine DESC, vec_id
    LIMIT {TOP_K}
    """,
)
def sim_hamming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-quantized ANN: sign-bit codes + Hamming-distance
    shortlist, exact-cosine re-rank — the 1-bit quantization serving
    path (32x memory cut vs float32; Hamming distance on sign bits is
    a monotone proxy for angular distance on roughly-centered
    embeddings). Stage 1 scans CODES, not vectors; stage 2 re-scores
    only {HAMMING_SHORTLIST} rows.

    Shape: the query's sign pattern folds into the plan as a literal,
    the per-row Hamming distance is an in-array codegen'd count (on a
    real deployment the codes pack into one BIGINT per 64 dims and
    stage 1 becomes bit_count(xor(code, qcode)) over a 8-byte column —
    same plan, 1/32 the bytes), and the only shuffle is the
    TakeOrdered heap merge of {HAMMING_SHORTLIST} rows. Both
    tie-breaks (hamming, vec_id) and (cosine DESC, vec_id) are
    engine-deterministic.
    """
    e = _emb(spark, sf_dir)
    qv = e.filter(F.col("vec_id") == QUERY_VEC_ID).select("emb").head()[0]
    q_lit = F.array(*[F.lit(float(x)) for x in qv]).alias("qv")
    shortlist = (
        e.filter(F.col("vec_id") != QUERY_VEC_ID)
        .select("vec_id", "emb", q_lit)
        .select(
            "vec_id",
            "emb",
            F.expr(
                "size(filter(zip_with(emb, qv, "
                "(x, y) -> (x > 0) != (y > 0)), b -> b))"
            ).cast("bigint").alias("hamming"),
        )
        .orderBy("hamming", "vec_id")
        .limit(HAMMING_SHORTLIST)
    )
    return (
        shortlist.withColumn("qv", q_lit)
        .select(
            "vec_id",
            "hamming",
            F.round(F.expr(_cosine_expr("emb", "qv")), 4).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), "vec_id")
        .limit(TOP_K)
    )


# -- PCA (one power-iteration step, the embedding-reduction inner loop) ----

PCA_DIMS = 64


@register(
    "emb_pca_power_step",
    f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
    -- deterministic start vector v0 = 1/sqrt(d) in every dimension
    s AS (
      SELECT vec_id, emb,
             round(list_sum(emb) / sqrt({PCA_DIMS}), 10) AS score
      FROM e
    ),
    acc AS (
      SELECT i, sum(s.score * s.emb[i]) AS av
      FROM s, generate_series(1, {PCA_DIMS}) g(i)
      GROUP BY i
    ),
    nrm AS (SELECT sqrt(sum(av * av)) AS n FROM acc)
    SELECT acc.i AS dim, round(acc.av / nrm.n, 6) AS v1
    FROM acc, nrm
    """,
)
def emb_pca_power_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One power-iteration step toward the top principal direction of
    the (uncentered) embedding second-moment matrix: v1 =
    normalize(X^T X v0), from the deterministic start v0 =
    (1/sqrt(d), ...). Iterating to a fixed point is the full power
    method (the PCA/spectral-embedding inner loop); one step is exactly
    oracle-checkable — the same per-step verification contract as
    emb_kmeans_step and graph_pagerank_step.

    Shape: X^T X v0 never materializes the d x d covariance — each row
    contributes score = <x, v0> (a row-local sum, v0 folded in as a
    constant) times its own vector, accumulated per-dimension by ONE
    posexplode + groupBy(dim) aggregate: shuffle volume is d partials
    per input partition, constant in corpus size. The normalization is
    a 1-row aggregate over d values.

    Scale: at 100 TB per iteration = one scan + a d-cell aggregate
    (the same budget as a column sum); subsequent iterations fold the
    previous v as literals exactly like the k-means centroids. For
    top-k components, orthogonalize k vectors per round (block power /
    subspace iteration) — same plan, k x d cells.
    """
    e = _emb(spark, sf_dir)
    inv_sqrt_d = 1.0 / (PCA_DIMS ** 0.5)
    score = F.round(
        F.aggregate("emb", F.lit(0.0), lambda s, x: s + x) * inv_sqrt_d, 10
    )
    scored = e.select(score.alias("score"), F.posexplode("emb").alias("pos", "x"))
    acc = scored.groupBy((F.col("pos") + 1).alias("dim")).agg(
        F.sum(F.col("score") * F.col("x")).alias("av")
    )
    nrm = acc.agg(F.sqrt(F.sum(F.col("av") * F.col("av"))).alias("n"))
    # nullif: an all-zero corpus has accumulator norm 0 — NULL direction
    # (DuckDB's double 0/0 is NULL too), not an ANSI DIVIDE_BY_ZERO
    # crash (found by the round-8 hypothesis sweep).
    return acc.crossJoin(F.broadcast(nrm)).select(
        "dim",
        F.round(F.col("av") / F.nullif(F.col("n"), F.lit(0.0)), 6).alias("v1"),
    )


# -- pure-SQL ML inference (linear probe over embeddings) ------------------

# Deterministic probe weights (no RNG: derived from the dimension
# index) — stands in for any trained linear classifier's coefficients.
PROBE_W = [(((i * 37) % 19) - 9) / 10.0 for i in range(64)]
PROBE_B = 0.1


@register(
    "emb_linear_probe_score",
    f"""
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings),
    w AS (SELECT {str(PROBE_W).replace('[', 'ARRAY[')} AS wv),
    s AS (
      SELECT label,
             1.0 / (1.0 + exp(-(list_dot_product(emb, wv) + {PROBE_B}))) AS p
      FROM e, w
    )
    SELECT label, count(*) AS n,
           round(avg(p), 4) AS mean_score,
           count(*) FILTER (WHERE p > 0.5) AS n_positive
    FROM s GROUP BY label
    """,
)
def emb_linear_probe_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ML inference as pure SQL: score every embedding with a linear
    probe (sigmoid(w . x + b)) and roll up per label — the
    classifier-scoring pass of a quality/topic/safety filter, with the
    model's coefficients fused into the plan as literals (the
    operator-fusion-in-SQL pattern: no Python, no UDF, no batch
    server — inference rides the scan).

    Shape: the dot product is one fold over the row's own array (a
    per-ROW higher-order function — the acceptable side of the HOF
    rule: |rows| evaluations, unlike per-PAIR in joins), the sigmoid is
    scalar arithmetic, and the rollup is a partial-aggregated groupBy
    of |labels| cells.

    Scale: scoring 100 TB costs exactly one scan; swapping coefficients
    is a plan literal change (or a 1-row broadcast for a model registry
    lookup). For k probes at once, emit k fused score columns — still
    one scan, the batching trick model servers cannot match on cold
    data.
    """
    e = _emb(spark, sf_dir)
    wvec = F.array(*[F.lit(x) for x in PROBE_W])
    dot = F.aggregate(
        F.zip_with(F.col("emb"), wvec, lambda x, y: x * y),
        F.lit(0.0),
        lambda s, x: s + x,
    )
    p = F.lit(1.0) / (F.lit(1.0) + F.exp(-(dot + F.lit(PROBE_B))))
    return (
        e.select("label", p.alias("p"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("p"), 4).alias("mean_score"),
            F.count_if(F.col("p") > 0.5).alias("n_positive"),
        )
    )


@register(
    "emb_outlier_worklist",
    """
    WITH cent AS (
      SELECT label, i, round(avg(embedding[i]), 4) AS c
      FROM embeddings, generate_series(1, 64) s(i)
      GROUP BY label, i
    ), parts AS (
      SELECT e.label, e.vec_id,
             sum(e.embedding[cent.i] * cent.c) AS dot,
             sum(e.embedding[cent.i] * e.embedding[cent.i]) AS e2,
             sum(cent.c * cent.c) AS c2
      FROM embeddings e JOIN cent ON cent.label = e.label
      GROUP BY e.label, e.vec_id
    ), scored AS (
      SELECT label, vec_id,
             round(dot / (sqrt(e2) * sqrt(c2) + 1e-12), 4) AS cos_to_centroid
      FROM parts
    )
    SELECT label, vec_id, cos_to_centroid,
           CAST(rnk AS INT) AS rnk
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY label ORDER BY cos_to_centroid, vec_id
      ) AS rnk FROM scored
    ) WHERE rnk <= 5
    """,
)
def emb_outlier_worklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding outliers: the 5 vectors LEAST similar to
    their own class prototype — the pruning worklist of
    prototypicality-based data cleaning (the D4-style complement to
    SemDeDup's duplicate pruning: drop what is too far from the class
    as well as what is too close to a neighbor).

    Centroids are rounded to 4 decimals before scoring so both engines
    rank against identical prototypes; cosine is rounded before the
    rank, with vec_id as the deterministic tie-break.

    Scale: centroid build is the emb_label_centroids pattern (|labels|
    x dims state); scoring joins each vector to its own label's
    centroid only — broadcast-sized right side — and the per-label
    bottom-k is a window over |corpus| scored rows, or TakeOrdered per
    label when k stays tiny.
    """
    emb = register_sources(spark, sf_dir)["embeddings"]
    cent = (
        emb.select("label", F.posexplode("embedding").alias("pos", "c"))
        .groupBy("label", "pos")
        .agg(F.round(F.avg("c"), 4).alias("c"))
    )
    parts = (
        emb.select("label", "vec_id", F.posexplode("embedding").alias("pos", "v"))
        .join(F.broadcast(cent), ["label", "pos"])
        .groupBy("label", "vec_id")
        .agg(
            F.sum(F.col("v") * F.col("c")).alias("dot"),
            F.sum(F.col("v") * F.col("v")).alias("e2"),
            F.sum(F.col("c") * F.col("c")).alias("c2"),
        )
    )
    scored = parts.select(
        "label",
        "vec_id",
        F.round(
            F.col("dot") / (F.sqrt("e2") * F.sqrt("c2") + F.lit(1e-12)), 4
        ).alias("cos_to_centroid"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("label").orderBy("cos_to_centroid", "vec_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= 5)
        .select("label", "vec_id", "cos_to_centroid", "rnk")
    )


PQ_M = 8  # subspaces (64 dims -> 8 x 8)
PQ_K = 4  # codes per subspace; codebook = the first PQ_K vectors' slices


@register(
    "sim_pq_codes",
    f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
    cb AS (SELECT vec_id AS cid, emb AS cv FROM e WHERE vec_id < {PQ_K}),
    sub AS (
      SELECT e.vec_id, s.s, cb.cid,
             round((SELECT sum(pow(e.emb[s.s * 8 + j] - cb.cv[s.s * 8 + j], 2))
                    FROM generate_series(1, 8) g(j)), 6) AS d2
      FROM e, generate_series(0, {PQ_M - 1}) s(s), cb
    ),
    pick AS (
      SELECT vec_id, s,
             min(printf('%015.6f|%05d', d2, cid)) AS p
      FROM sub GROUP BY vec_id, s
    )
    SELECT vec_id,
           string_agg(CAST(CAST(substr(p, 17, 5) AS INT) AS VARCHAR), ','
                      ORDER BY s) AS codes,
           printf('%.6f',
                  sum(CAST(replace(substr(p, 1, 15), '.', '') AS BIGINT))
                  / 1000000.0) AS recon_err
    FROM pick GROUP BY vec_id
    """,
)
def sim_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization encoding — the OTHER half of the FAISS-style
    index family (IVF partitions the corpus; PQ compresses residuals):
    64-dim vectors split into 8 subvectors, each assigned to its nearest
    of 4 sub-centroids, so a vector stores as 8 small codes (here 8
    bytes vs 256 for float32 — at production k=256 this is the 32x
    memory reduction that lets a 100 TB corpus's index fit in RAM).
    Deterministic codebook: the first PQ_K vectors' slices (same
    convention as emb_kmeans_step's init; training iterates k-means per
    subspace — each step oracle-checkable exactly like emb_kmeans_step).

    Distances to the tiny codebook are folded into the plan as literals
    (no join, no shuffle until the final per-vector regroup); the
    argmin ties break on code id via the fixed-width string-min trick
    so every engine picks the same code. recon_err (sum of per-subspace
    quantization errors) is the index-quality metric a real pipeline
    tracks per build.
    """
    e = _emb(spark, sf_dir)
    cb = [
        (int(r["vec_id"]), [float(x) for x in r["emb"]])
        for r in e.filter(F.col("vec_id") < PQ_K).select("vec_id", "emb").collect()
    ]
    # Assembled as ONE SQL string: building the 256-term pick expression
    # Column-by-Column costs a driver<->JVM round trip per node (~4s of
    # plan construction per call; same fix as sim_ivfpq_adc). Arithmetic
    # text is unchanged — power/round/format_string as before.
    structs = []
    for s in range(PQ_M):
        picks = []
        for cid, cv in cb:
            d2 = " + ".join(
                f"power(emb[{s * 8 + j}] - {cv[s * 8 + j]!r}D, 2)"
                for j in range(8)
            )
            picks.append(
                f"format_string('%015.6f|%05d', round({d2}, 6), {cid})"
            )
        structs.append(f"struct({s} AS s, least({', '.join(picks)}) AS p)")
    exploded = e.selectExpr(
        "vec_id", f"explode(array({', '.join(structs)})) AS r"
    ).selectExpr("vec_id", "r.s AS s", "r.p AS p")
    return exploded.groupBy("vec_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("s", "p"))
                ),
                lambda x: F.substring(x["p"], 17, 5).cast("int").cast("string"),
            ),
            ",",
        ).alias("codes"),
        # sum the 6-dp distance strings as exact integer micro-units:
        # re-rounding their double sum to fewer decimals lands on .5
        # boundaries where engines disagree by 1 ulp
        F.format_string(
            "%.6f",
            F.sum(
                F.regexp_replace(F.substring("p", 1, 15), r"\.", "").cast("bigint")
            )
            / F.lit(1000000.0),
        ).alias("recon_err"),
    )


# -- IVF-PQ with asymmetric distance computation (the full FAISS stack) ----


@register(
    "sim_ivfpq_adc",
    _DUCK_IVF_PROBES + f""",
    cb AS (SELECT vec_id AS cid, emb AS cv FROM e WHERE vec_id < {PQ_K}),
    sub AS (
      SELECT e.vec_id, s.s, cb.cid,
             round((SELECT sum(pow(e.emb[s.s * 8 + j] - cb.cv[s.s * 8 + j], 2))
                    FROM generate_series(1, 8) g(j)), 6) AS d2
      FROM e, generate_series(0, {PQ_M - 1}) s(s), cb
      WHERE e.label IN (SELECT label FROM best) AND e.vec_id <> {QUERY_VEC_ID}
    ),
    -- argmin integer-encoded (micro-distance * 1e5 + cid): pure
    -- arithmetic on both engines, no printf/string-min in the per-row
    -- path (the string form measured ~2s of codegen per run)
    pick AS (
      SELECT vec_id, s,
             CAST(min(CAST(round(d2 * 1000000) AS BIGINT) * 100000 + cid)
                  % 100000 AS INT) AS code
      FROM sub GROUP BY vec_id, s
    ),
    qtab AS (
      SELECT s.s, cb.cid,
             CAST(round((SELECT sum(pow(q.qv[s.s * 8 + j] - cb.cv[s.s * 8 + j], 2))
                         FROM generate_series(1, 8) g(j)) * 1000000) AS BIGINT)
               AS dmicro
      FROM generate_series(0, {PQ_M - 1}) s(s), cb, q
    ),
    adc AS (
      SELECT p.vec_id, CAST(sum(t.dmicro) AS BIGINT) AS adc_d2_micro
      FROM pick p JOIN qtab t ON t.s = p.s AND t.cid = p.code
      GROUP BY p.vec_id
    )
    SELECT a.vec_id, a.adc_d2_micro,
           round((list_dot_product(e.emb, q.qv) / nullif(sqrt(list_dot_product(e.emb, e.emb)) * sqrt(list_dot_product(q.qv, q.qv)), 0)), 4) AS cosine
    FROM adc a JOIN e ON e.vec_id = a.vec_id, q
    ORDER BY a.adc_d2_micro ASC, a.vec_id
    LIMIT {TOP_K}
    """,
)
def sim_ivfpq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ search with asymmetric distance computation — the three
    FAISS-style index stages composed into ONE Spark plan: IVF probing
    bounds the SCAN (nprobe inverted lists), PQ codes bound the BYTES
    (each candidate vector is {PQ_M} small codes, never floats), and
    ADC bounds the COMPUTE (the query precomputes a {PQ_M}x{PQ_K}
    distance table; a candidate's approximate distance is {PQ_M} table
    lookups + adds, no per-pair float math at all).

    Shape: the table is computed driver-side from the collected
    codebook (tiny: M*K cells) and folded into the plan as literal
    arrays — each candidate's score is element_at per subspace, summed;
    the only wide work left is the filtered scan + TakeOrdered top-k.
    Distances travel as exact integer micro-units (the sim_pq_codes
    convention), so the bigint ADC sum is bit-identical across engines
    and the driver hash has no float edge.

    Scale: this is the 1B-vector serving plan. Inverted lists are the
    partition key (probe = partition pruning), the PQ code table is
    32x smaller than the raw vectors (so the scanned bytes per probe
    drop the same way), and the ADC table is O(M*K) per query
    regardless of corpus size. Exact cosine is reported alongside for
    the rerank stage (sim_ivf_rerank) to consume.
    """
    from decimal import ROUND_HALF_UP, Decimal

    e = _emb(spark, sf_dir)
    q_lit, probes_df = _ivf_probe_lists(e)
    qv = [
        float(x)
        for x in e.filter(F.col("vec_id") == QUERY_VEC_ID).select("emb").head()[0]
    ]
    cb = [
        (int(r["vec_id"]), [float(x) for x in r["emb"]])
        for r in e.filter(F.col("vec_id") < PQ_K).select("vec_id", "emb").collect()
    ]

    def _micro(d2: float) -> int:
        # mirror round(d2, 6) -> printf -> strip-dot: exact micro-units
        q6 = Decimal(repr(d2)).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP)
        return int(q6 * 1_000_000)

    # query-to-codebook ADC table, indexed [subspace][code]
    tab = [
        [
            _micro(sum((qv[s * 8 + j] - cv[s * 8 + j]) ** 2 for j in range(8)))
            for _cid, cv in cb
        ]
        for s in range(PQ_M)
    ]

    cand = e.filter(F.col("vec_id") != QUERY_VEC_ID).join(
        F.broadcast(probes_df), "label", "left_semi"
    )
    # The per-candidate encode/lookup expression is assembled as ONE SQL
    # string and parsed with a single F.expr: building it Column-by-
    # Column costs ~1500 driver<->JVM round trips (~4s of plan
    # CONSTRUCTION measured at sf0.1 before any execution). The 'D'
    # suffix makes each literal a DOUBLE (repr round-trips exactly);
    # the argmin is the oracle's integer encoding
    # (micro-distance * 1e5 + cid), pure arithmetic.
    parts = []
    for s in range(PQ_M):
        encs = []
        for cid, cv in cb:
            d2 = " + ".join(
                f"power(emb[{s * 8 + j}] - {cv[s * 8 + j]!r}D, 2)"
                for j in range(8)
            )
            encs.append(
                f"(cast(round(round({d2}, 6) * 1000000) as bigint) "
                f"* 100000 + {cid})"
            )
        code = f"cast(least({', '.join(encs)}) % 100000 as int)"
        arr = f"array({', '.join(str(v) + 'L' for v in tab[s])})"
        parts.append(f"element_at({arr}, {code} + 1)")
    adc_sql = " + ".join(parts)
    q_arr = "array(" + ", ".join(f"{x!r}D" for x in qv) + ")"
    return (
        cand.select(
            "vec_id",
            F.expr(f"cast({adc_sql} as bigint)").alias("adc_d2_micro"),
            F.expr(f"round({_cosine_expr('emb', q_arr)}, 4)").alias("cosine"),
        )
        .orderBy(F.col("adc_d2_micro").asc(), "vec_id")
        .limit(TOP_K)
    )


# -- contrastive hard-negative mining --------------------------------------

HARD_NEG_K = 5  # negatives mined per anchor


def _duck_hard_negatives() -> str:
    ids = ", ".join(str(i) for i in BATCH_QUERY_IDS)
    return f"""
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings),
    a AS (SELECT vec_id AS anchor_id, label AS anchor_label, emb AS av
          FROM e WHERE vec_id IN ({ids})),
    scored AS (
      SELECT a.anchor_id, a.anchor_label, e.vec_id AS negative_id,
             e.label AS negative_label,
             round((list_dot_product(e.emb, a.av) / nullif(sqrt(list_dot_product(e.emb, e.emb)) * sqrt(list_dot_product(a.av, a.av)), 0)), 4) AS cosine,
             row_number() OVER (
               PARTITION BY a.anchor_id
               ORDER BY round((list_dot_product(e.emb, a.av) / nullif(sqrt(list_dot_product(e.emb, e.emb)) * sqrt(list_dot_product(a.av, a.av)), 0)), 4) DESC,
                        e.vec_id) AS rk
      FROM e JOIN a ON e.label <> a.anchor_label
    )
    SELECT anchor_id, anchor_label, negative_id, negative_label, cosine
    FROM scored WHERE rk <= {HARD_NEG_K}
    """


@register("emb_hard_negatives", _duck_hard_negatives())
def emb_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive hard-negative mining: for each anchor in a training
    batch, the top-k most-similar corpus vectors with a DIFFERENT
    label — the highest-loss negatives for embedding-model training
    (in-batch negatives miss these; mining them is the standard recipe
    from DPR / SimCSE-style pipelines).

    Shape: the anchor batch broadcasts (a training batch is small by
    construction); scoring is a broadcast join with the label
    inequality fused into the join condition, so same-label rows drop
    BEFORE the cosine evaluates; per-anchor top-k is one window
    partitioned by anchor.

    Scale: per batch the cost is one corpus scan — at 1B vectors the
    candidate side swaps for an IVF/LSH-blocked prefilter (exactly
    sim_ivf_rerank's plan) with the label inequality applied at the
    bucket join; the batch mechanism, window, and output contract stay
    identical, which is why the scan form is the one under the oracle.
    """
    from pyspark.sql import Window

    e = _emb(spark, sf_dir)
    a = e.filter(F.col("vec_id").isin(*BATCH_QUERY_IDS)).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("label").alias("anchor_label"),
        F.col("emb").alias("av"),
    )
    w = Window.partitionBy("anchor_id").orderBy(
        F.col("cosine").desc(), F.col("negative_id")
    )
    scored = (
        e.join(F.broadcast(a), F.col("label") != F.col("anchor_label"))
        .select(
            "anchor_id",
            "anchor_label",
            F.col("vec_id").alias("negative_id"),
            F.col("label").alias("negative_label"),
            F.round(F.expr(_cosine_expr("emb", "av")), 4).alias("cosine"),
        )
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= HARD_NEG_K)
        .drop("rk")
    )


# -- MMR diversified re-ranking --------------------------------------------

MMR_CANDIDATES = 20  # shortlist size entering diversification
MMR_K = 10           # diversified results returned
# lambda = 0.7 as exact integer weights (x10): score = 7*rel - 3*redundancy
MMR_REL_W, MMR_DIV_W = 7, 3


def _duck_mmr() -> str:
    """Unrolled MMR selection: stage i picks the argmax of
    7*sim(q,c) - 3*max(sim(c, chosen)) over the un-chosen candidates —
    all in integer micro-units, so both engines agree exactly. The
    oracle unrolls the k iterations as CTE stages (deterministic SQL,
    no recursion needed for a fixed k)."""
    head = f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
    q AS (SELECT emb AS qv FROM e WHERE vec_id = {QUERY_VEC_ID}),
    cand AS MATERIALIZED (
      SELECT e.vec_id, e.emb,
             CAST(round((list_dot_product(e.emb, q.qv) / nullif(sqrt(list_dot_product(e.emb, e.emb)) * sqrt(list_dot_product(q.qv, q.qv)), 0)) * 1000000) AS BIGINT) AS simq
      FROM e, q WHERE e.vec_id <> {QUERY_VEC_ID}
      ORDER BY simq DESC, e.vec_id LIMIT {MMR_CANDIDATES}
    ),
    pairs AS MATERIALIZED (
      SELECT a.vec_id AS ai, b.vec_id AS bi,
             CAST(round((list_dot_product(a.emb, b.emb) / nullif(sqrt(list_dot_product(a.emb, a.emb)) * sqrt(list_dot_product(b.emb, b.emb)), 0)) * 1000000) AS BIGINT) AS sim
      FROM cand a JOIN cand b ON a.vec_id <> b.vec_id
    ),
    chosen0(vec_id, rk, score) AS (SELECT CAST(NULL AS BIGINT), 0, CAST(NULL AS BIGINT) WHERE false)
    """
    stages = []
    for i in range(1, MMR_K + 1):
        prev = f"chosen{i - 1}"
        stages.append(f"""
    pick{i} AS (
      SELECT c.vec_id,
             {MMR_REL_W} * c.simq - {MMR_DIV_W} * coalesce(
               (SELECT max(p.sim) FROM pairs p
                WHERE p.ai = c.vec_id
                  AND p.bi IN (SELECT vec_id FROM {prev})), 0) AS score
      FROM cand c
      WHERE c.vec_id NOT IN (SELECT vec_id FROM {prev})
      ORDER BY score DESC, c.vec_id LIMIT 1
    ),
    chosen{i} AS MATERIALIZED (
      SELECT vec_id, rk, score FROM {prev}
      UNION ALL SELECT vec_id, {i} AS rk, score FROM pick{i}
    )""")
    return (
        head
        + ","
        + ",".join(stages)
        + f"""
    SELECT rk, vec_id, score AS mmr_score_x10_micro
    FROM chosen{MMR_K}
    """
    )


@register("emb_mmr_diversify", _duck_mmr())
def emb_mmr_diversify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein
    1998): from the top-{MMR_CANDIDATES} cosine shortlist, greedily pick
    k results maximizing lambda*relevance - (1-lambda)*max-similarity-
    to-already-picked — the standard diversification pass between ANN
    retrieval and serving (RAG context assembly, search result pages).

    Split of labor, by design: candidate scoring and the pairwise
    similarity matrix are DISTRIBUTED (the corpus scan is the top-k
    plan sim_topk_brute pins; the pair matrix is a self-join of the
    {MMR_CANDIDATES}-row shortlist with the codegen'd dot product);
    the greedy selection itself runs driver-side over the collected
    {MMR_CANDIDATES}x{MMR_CANDIDATES} INTEGER matrix — k iterations
    over k^2 ints is serving-layer work (the same k-bounded-collect
    rule as the IVF codebook fetches), and integer micro-unit scores
    make the Python loop and the oracle's unrolled SQL stages agree
    exactly.

    Scale: the shortlist size, not the corpus, bounds everything after
    the first stage; at 1B vectors the shortlist comes from the IVF/PQ
    path (sim_ivfpq_adc) and this pass is unchanged.
    """
    e = _emb(spark, sf_dir)
    qv = e.filter(F.col("vec_id") == QUERY_VEC_ID).select("emb").head()[0]
    q_lit = "array(" + ", ".join(f"{float(x)!r}D" for x in qv) + ")"
    cand = (
        e.filter(F.col("vec_id") != QUERY_VEC_ID)
        .selectExpr(
            "vec_id",
            "emb",
            f"cast(round(({_cosine_expr('emb', q_lit)}) * 1000000) as bigint) AS simq",
        )
        .orderBy(F.col("simq").desc(), "vec_id")
        .limit(MMR_CANDIDATES)
    )
    a, b = cand.alias("a"), cand.alias("b")
    pair_rows = (
        a.join(b, F.col("a.vec_id") != F.col("b.vec_id"))
        .selectExpr(
            "a.vec_id AS ai",
            "b.vec_id AS bi",
            f"cast(round(({_cosine_expr('a.emb', 'b.emb')}) * 1000000) as bigint) AS sim",
        )
        .collect()
    )
    simq = {r["vec_id"]: r["simq"] for r in cand.select("vec_id", "simq").collect()}
    pair = {(r["ai"], r["bi"]): r["sim"] for r in pair_rows}
    chosen: list[tuple[int, int, int]] = []  # (rk, vec_id, score)
    picked: set[int] = set()
    for rk in range(1, MMR_K + 1):
        # Degenerate-corpus semantics pinned to the oracle (found by the
        # round-8 hypothesis sweep): a shortlist smaller than MMR_K
        # yields fewer ranks (each empty pick stage adds no row), and a
        # NULL relevance (zero query vector -> 0/0 cosine) sorts NULLS
        # LAST like the oracle's ORDER BY score DESC — it can still be
        # picked (lowest vec_id, NULL score) once only NULLs remain.
        best: tuple[int, int | None] | None = None
        for vid in sorted(simq):
            if vid in picked:
                continue
            red = max(
                (
                    s
                    for p in picked
                    if (s := pair[(vid, p)]) is not None
                ),
                default=0,
            )
            score = (
                None
                if simq[vid] is None
                else MMR_REL_W * simq[vid] - MMR_DIV_W * red
            )
            if best is None:
                best = (vid, score)
            elif score is not None and (best[1] is None or score > best[1]):
                best = (vid, score)
        if best is None:  # every shortlist candidate already picked
            break
        picked.add(best[0])
        chosen.append((rk, best[0], best[1]))
    return local_rows_df(spark, 
        chosen, "rk int, vec_id bigint, mmr_score_x10_micro bigint"
    )


# -- range (radius) search -------------------------------------------------

RANGE_QUERY_IDS = (0, 1, 2, 3, 4, 5, 6, 7)
RANGE_COS_TAU = 0.25  # cosine radius; calibrated to the synthetic corpus


def _duck_range_search() -> str:
    ids = ", ".join(str(i) for i in RANGE_QUERY_IDS)
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
    q AS (SELECT vec_id AS query_id, emb AS qv FROM e WHERE vec_id IN ({ids}))
    SELECT q.query_id, e.vec_id,
           round((list_dot_product(e.emb, q.qv) / nullif(sqrt(list_dot_product(e.emb, e.emb)) * sqrt(list_dot_product(q.qv, q.qv)), 0)), 4) AS cosine
    FROM e JOIN q ON e.vec_id <> q.query_id
    WHERE round((list_dot_product(e.emb, q.qv) / nullif(sqrt(list_dot_product(e.emb, e.emb)) * sqrt(list_dot_product(q.qv, q.qv)), 0)), 4) >= {RANGE_COS_TAU}
    """


@register("sim_range_search", _duck_range_search())
def sim_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (radius) query: ALL corpus vectors within cosine >=
    RANGE_COS_TAU of each query vector — the fixed-threshold sibling of
    top-k serving (dedup candidate pull, recommendation pools, dataset
    decontamination by embedding radius want *every* in-range neighbor,
    not a capped k).

    Shape: the query batch is broadcast (a handful of 64-float rows);
    scoring is a broadcast nested-loop join with the threshold predicate
    applied inline, so the corpus side streams partition-local through
    whole-stage codegen and never shuffles — unlike top-k there is no
    global heap or window, so the output needs NO exchange at all.

    Scale: one corpus scan per query batch at any corpus size; the
    result is naturally bounded by the radius, and batches of queries
    amortize the scan exactly as sim_topk_batch does. An IVF-routed
    variant (probe only centroids within tau minus the cluster radius)
    composes from sim_ivf_topk's index when the corpus outgrows
    brute-force scanning.
    """
    e = _emb(spark, sf_dir)
    q = (
        e.filter(F.col("vec_id").isin(*RANGE_QUERY_IDS))
        .select(F.col("vec_id").alias("query_id"), F.col("emb").alias("qv"))
    )
    cos = F.round(F.expr(_cosine_expr("emb", "qv")), 4)
    return (
        e.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", cos.alias("cosine"))
        .filter(F.col("cosine") >= RANGE_COS_TAU)
    )


# -- cluster-blocked kNN graph ----------------------------------------------

KNN_GRAPH_K = 5


def _knn_graph_ctes() -> str:
    """Cluster-assignment + kNN-edge CTE chain (…, edges, knn), shared
    by the kNN-graph oracle and the label-propagation oracle so the
    graph construction can never drift between them."""
    from .dedup import duck_cluster_assign_ctes

    cos = "round((list_dot_product(ex.emb, ey.emb) / nullif(sqrt(list_dot_product(ex.emb, ex.emb)) * sqrt(list_dot_product(ey.emb, ey.emb)), 0)), 4)"
    return duck_cluster_assign_ctes() + f""",
    edges AS (
      SELECT x.vec_id AS src, y.vec_id AS dst, x.cluster_id,
             {cos} AS cosine,
             row_number() OVER (PARTITION BY x.vec_id
               ORDER BY {cos} DESC, y.vec_id) AS rk
      FROM a x JOIN a y ON x.cluster_id = y.cluster_id
                       AND x.vec_id <> y.vec_id
      JOIN e ex ON ex.vec_id = x.vec_id
      JOIN e ey ON ey.vec_id = y.vec_id
    ),
    knn AS (SELECT * FROM edges WHERE rk <= {KNN_GRAPH_K})
    """


def _knn_graph_oracle() -> str:
    return _knn_graph_ctes() + """
    SELECT k.src, k.dst, k.cluster_id, k.rk, k.cosine,
           (m.src IS NOT NULL) AS mutual
    FROM knn k LEFT JOIN knn m ON m.src = k.dst AND m.dst = k.src
    """


@register("emb_knn_graph", _knn_graph_oracle())
def emb_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-blocked k-nearest-neighbor GRAPH with mutual-kNN edge
    flags — the substrate of graph-based curation (kNN-graph clustering,
    SemDeDup successors, label propagation, UMAP-style manifold steps).
    Each vector gets its top-{KNN_GRAPH_K} most-cosine-similar neighbors
    WITHIN its k-means cell (the published approximation: true kNN over
    web-scale corpora is O(n^2); cluster blocking bounds the pair space
    to O(n * cell) and near neighbors co-cluster); an edge is ``mutual``
    when each endpoint ranks the other in its own top-k — the symmetric
    graph most downstream algorithms want.

    Shape: reuses _cluster_assigned (dedup.py — broadcast centroid join,
    persisted wide rows), one equi self-join on cluster_id with the
    codegen'd wide-column dot product, a per-src window for rank, and
    one |edges|-row self-join for mutuality. Ordering is on the ROUNDED
    cosine + dst id, so ranks are engine-exact.

    Scale: identical blocking maths to dedup_semantic — expected cell
    ~64 keeps the pair space O(n * 64); the rank window shuffles
    |cells| * 64 * 64 fixed-width rows on src; mutuality joins
    |n * k| narrow edges. All stages measured flat-to-sublinear for the
    shared assignment (SCALE.md, round-2 scaling).

    The finished edge table is memoized + PERSISTED per
    (session, sf_dir) like the other shared stages: label propagation
    and the curation audit both consume it, and without the memo each
    consumer re-ran the pair join + rank window (measured 2x inside
    pipeline_embedding_curation).
    """
    from .dedup import _STAGE_MEMO, _cluster_assigned, _memo_key

    memo = _memo_key(spark, sf_dir, "knn_edges")
    if memo in _STAGE_MEMO:
        return _STAGE_MEMO[memo]
    assigned, dims = _cluster_assigned(spark, sf_dir)
    dot_sql = " + ".join(f"a.e{i} * b.e{i}" for i in range(dims))
    # try_divide: zero-norm vectors yield NULL cosine, not an ANSI
    # crash (see _cosine_expr).
    cos = F.round(F.expr(f"try_divide({dot_sql}, a.nrm * b.nrm)"), 4)
    a, b = assigned.alias("a"), assigned.alias("b")
    from pyspark.sql import Window as W

    edges = (
        a.join(
            b,
            (F.col("a.cluster_id") == F.col("b.cluster_id"))
            & (F.col("a.vec_id") != F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("src"),
            F.col("b.vec_id").alias("dst"),
            F.col("a.cluster_id").alias("cluster_id"),
            cos.alias("cosine"),
        )
        .withColumn(
            "rk",
            F.row_number().over(
                W.partitionBy("src").orderBy(F.col("cosine").desc(), "dst")
            ),
        )
        .filter(F.col("rk") <= KNN_GRAPH_K)
    )
    rev = edges.select(
        F.col("src").alias("m_dst"), F.col("dst").alias("m_src")
    )
    out = (
        edges.join(
            rev,
            (F.col("src") == F.col("m_src")) & (F.col("dst") == F.col("m_dst")),
            "left",
        )
        .select(
            "src",
            "dst",
            "cluster_id",
            "rk",
            "cosine",
            F.col("m_src").isNotNull().alias("mutual"),
        )
        .persist()
    )
    _STAGE_MEMO[memo] = out
    return out


# -- label propagation over the kNN graph -----------------------------------

LABEL_PROP_SEED_MOD = 5  # vec_id % 5 == 0 -> labeled seed (20% of corpus)


def _label_prop_oracle() -> str:
    return _knn_graph_ctes() + f""",
    lab AS (SELECT vec_id, label FROM embeddings),
    votes AS (
      SELECT k.src, s.label AS pred_label,
             CAST(sum(CAST(round(k.cosine * 10000) AS BIGINT)) AS BIGINT)
               AS vote_micro,
             count(*) AS n_seed_votes
      FROM knn k JOIN lab s ON s.vec_id = k.dst
      WHERE s.vec_id % {LABEL_PROP_SEED_MOD} = 0
      GROUP BY k.src, s.label
    ),
    best AS (
      SELECT src, pred_label, vote_micro, n_seed_votes,
             row_number() OVER (PARTITION BY src
               ORDER BY vote_micro DESC, pred_label) AS rk
      FROM votes
    )
    SELECT b.src AS vec_id, b.pred_label, b.vote_micro, b.n_seed_votes,
           (b.src % {LABEL_PROP_SEED_MOD} = 0) AS is_seed,
           (b.pred_label = l.label) AS agrees
    FROM best b JOIN lab l ON l.vec_id = b.src
    WHERE b.rk = 1
    """


@register("emb_label_propagation", _label_prop_oracle())
def emb_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One round of label propagation over the cluster-blocked kNN
    graph: every vector whose top-{KNN_GRAPH_K} neighborhood contains a
    labeled SEED (vec_id % {LABEL_PROP_SEED_MOD} == 0, the
    20%-annotated-corpus scenario) takes the cosine-weighted majority
    label of those seed neighbors — the standard semi-supervised label
    spreading step for propagating scarce human annotations (quality
    marks, topic tags, license classes) across an embedding corpus.
    Iterating with the winners added to the seed set is the full
    algorithm; each round is oracle-checkable like PageRank/k-means.

    Exactness: votes are sums of round(cosine*1e4) INTEGER micro-weights
    over the rounded edge cosines, so the per-(src,label) tally and the
    (vote DESC, label) argmax tie-break are engine-identical.

    Emits is_seed + agrees (prediction == own label) so the operator
    doubles as its own transductive accuracy report — the number a real
    deployment watches before trusting propagated labels.

    Scale: reuses the persisted kNN edge table (n x k narrow rows); the
    seed join shuffles edges on dst against an n/{LABEL_PROP_SEED_MOD}
    label relation (NOT broadcast — at 100 TB the seed set is
    corpus-sized); the vote aggregate and argmax window move
    |srcs| x |labels| fixed-width rows. No stage touches vector data —
    the graph was the only geometric cost.
    """
    lab = _emb(spark, sf_dir).select("vec_id", "label")
    edges = emb_knn_graph(spark, sf_dir)
    seeds = (
        lab.filter(F.col("vec_id") % LABEL_PROP_SEED_MOD == 0)
        .select(F.col("vec_id").alias("dst"), F.col("label").alias("pred_label"))
    )
    votes = (
        edges.join(seeds, "dst")
        .select(
            "src",
            "pred_label",
            F.round(F.col("cosine") * 10000, 0).cast("bigint").alias("wm"),
        )
        .groupBy("src", "pred_label")
        .agg(
            F.sum("wm").cast("bigint").alias("vote_micro"),
            F.count(F.lit(1)).alias("n_seed_votes"),
        )
    )
    from pyspark.sql import Window as W

    best = votes.withColumn(
        "rk",
        F.row_number().over(
            W.partitionBy("src").orderBy(F.col("vote_micro").desc(), "pred_label")
        ),
    ).filter(F.col("rk") == 1)
    return (
        best.join(lab, best["src"] == lab["vec_id"])
        .select(
            F.col("src").alias("vec_id"),
            "pred_label",
            "vote_micro",
            "n_seed_votes",
            (F.col("src") % LABEL_PROP_SEED_MOD == 0).alias("is_seed"),
            (F.col("pred_label") == F.col("label")).alias("agrees"),
        )
    )


# -- greedy farthest-point (k-center) init ----------------------------------

KCENTER_STEPS = 3  # greedy picks AFTER the vec_id-0 seed -> k = 4 centers


def _duck_kcenter_init() -> str:
    """Unrolled greedy farthest-point oracle: step s picks the vector
    maximizing its min distance to the s centers chosen so far (argmax
    encoded like the k-means argmin: '%015.6f|%012d' with the id
    INVERTED so distance ties break on the SMALLEST vec_id)."""
    inv = 999_999_999_999
    ctes = ["e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings)"]
    chosen = ["CAST(0 AS BIGINT)"]
    for s in range(1, KCENTER_STEPS + 1):
        dists = ", ".join(
            f"round(list_distance(e.emb, (SELECT emb FROM e WHERE vec_id = {c})), 6)"
            for c in chosen
        )
        mind = f"least({dists})" if len(chosen) > 1 else dists
        ctes.append(
            f"""p{s} AS (
      SELECT max(printf('%015.6f|%012d', {mind}, {inv} - e.vec_id)) AS p
      FROM e WHERE e.vec_id NOT IN ({", ".join(chosen)})
    )"""
        )
        ctes.append(
            f"""pick{s} AS (
      SELECT CAST(round(CAST(substr(p, 1, 15) AS DOUBLE) * 1e6) AS BIGINT)
               AS dist_micro,
             {inv} - CAST(substr(p, 17, 12) AS BIGINT) AS vec_id
      FROM p{s}
    )"""
        )
        chosen.append(f"(SELECT vec_id FROM pick{s})")
    unions = "\n    UNION ALL ".join(
        [f"SELECT 0 AS step, CAST(0 AS BIGINT) AS vec_id, CAST(0 AS BIGINT) AS dist_micro"]
        + [
            f"SELECT {s} AS step, vec_id, dist_micro FROM pick{s}"
            for s in range(1, KCENTER_STEPS + 1)
        ]
    )
    return (
        "WITH " + ",\n    ".join(ctes) + "\n    " + unions + "\n    ORDER BY step"
    )


@register("emb_kcenter_init", _duck_kcenter_init())
def emb_kcenter_init(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy farthest-point initialization (k-center / Gonzalez
    2-approximation — the deterministic cousin of kmeans++ seeding):
    seed with vec_id 0, then {KCENTER_STEPS} times pick the vector whose
    min distance to the chosen centers is LARGEST. The emitted
    dist_micro trajectory is non-increasing and step s's value is the
    exact coverage radius of the first s centers — the number that
    decides k for emb_kmeans_train, whose deterministic lowest-id init
    this replaces in a production pipeline.

    Determinism/exactness: per-center distances are rounded to 6
    decimals before the least(); the argmax string '%015.6f|%012d'
    INVERTS the id so ties break on the smallest vec_id; dist_micro =
    round(d * 1e6) of the already-rounded d — all engine-identical.

    Scale: step s is ONE scan with s literal-folded distance
    expressions and a single max() — no join, no shuffle beyond the
    1-row aggregate; the driver collects one row per step. k scans for
    k centers is the textbook cost; at large k swap the literals for a
    broadcast centers table exactly like the k-means assignment.
    """
    inv = 999_999_999_999
    with _refcounted_persist(
        _kmeans_wide(_emb(spark, sf_dir).select("vec_id", "emb"))
    ) as e:
        return _kcenter_loop(spark, e, inv)


def _kcenter_loop(spark: SparkSession, e: DataFrame, inv: int) -> DataFrame:
    seed = e.filter(F.col("vec_id") == 0).select("emb").head()
    chosen: list[tuple[int, list[float]]] = [
        (0, [float(x) for x in seed[0]])
    ]
    out_rows: list[tuple] = [(0, 0, 0)]
    for s in range(1, KCENTER_STEPS + 1):
        dists = [
            F.round(F.sqrt(F.expr(_sq_dist_sql(cv))), 6) for _, cv in chosen
        ]
        mind = F.least(*dists) if len(dists) > 1 else dists[0]
        ids = [c for c, _ in chosen]
        p = (
            e.filter(~F.col("vec_id").isin(ids))
            .select(
                F.format_string(
                    "%015.6f|%012d", mind, F.lit(inv) - F.col("vec_id")
                ).alias("enc")
            )
            .agg(F.max("enc").alias("p"))
            .head()["p"]
        )
        d = float(p[:15])
        vid = inv - int(p[16:28])
        out_rows.append((s, vid, int(round(d * 1e6))))
        cv = [
            float(x)
            for x in e.filter(F.col("vec_id") == vid).select("emb").head()[0]
        ]
        chosen.append((vid, cv))
    return local_rows_df(spark,
        out_rows, "step int, vec_id bigint, dist_micro bigint"
    )


# -- embedding-curation pipeline audit ---------------------------------------


def _emb_curation_oracle() -> str:
    from ..queries import ORACLES as O

    return f"""
    SELECT 'kcenter' AS stage, 'coverage_radius_micro' AS metric,
           CAST(max(dist_micro) AS BIGINT) AS value
    FROM ({O["emb_kcenter_init"]})
    UNION ALL
    SELECT 'kmeans', 'final_inertia_micro',
           CAST(sum(inertia_micros) AS BIGINT)
    FROM ({O["emb_kmeans_train"]}) WHERE round = {KMEANS_TRAIN_ROUNDS}
    UNION ALL
    SELECT 'knn_graph', 'n_mutual_edges',
           CAST(count(*) FILTER (WHERE mutual) AS BIGINT)
    FROM ({O["emb_knn_graph"]})
    UNION ALL
    SELECT 'label_prop', 'n_agree',
           CAST(count(*) FILTER (WHERE agrees) AS BIGINT)
    FROM ({O["emb_label_propagation"]})
    UNION ALL
    SELECT 'label_prop', 'n_scored', CAST(count(*) AS BIGINT)
    FROM ({O["emb_label_propagation"]})
    ORDER BY stage, metric
    """


@register("pipeline_embedding_curation", _emb_curation_oracle())
def pipeline_embedding_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The embedding-stack AUDIT, sibling of pipeline_dedup_funnel /
    pipeline_quality_funnel: one long (stage, metric, value) table over
    the four curation stages — seeding coverage radius (k-center),
    trained inertia (k-means), mutual-kNN edge count (graph substrate),
    and label-propagation volume + transductive agreement — the summary
    a 100 TB embedding-curation run logs per snapshot to decide k,
    trust propagated labels, and catch geometry drift between corpus
    versions.

    Composition, not reimplementation: every branch calls the SAME
    registered operator and the oracle embeds the SAME registered
    oracle SQL, so the audit can never drift from the stages it
    summarizes. Every value is an exact integer (micro-units or
    counts); each branch collapses to ONE row map-side — the pipeline
    adds no join or shuffle beyond its branches (the kNN stage is the
    shared persisted substrate, computed once via the stage memo).
    """
    s = F.lit

    def row(stage, metric, agg):
        return (
            s(stage).alias("stage"),
            s(metric).alias("metric"),
            agg.cast("bigint").alias("value"),
        )

    # Overlap the branch CONSTRUCTION (guide §2.6): the k-center and
    # k-means stages are driver-side collect loops (eager per-step
    # jobs), so building the four branches sequentially serialized
    # their idle tails on a 32-core box. A small thread pool lets each
    # branch's jobs back-fill the others' stragglers; branch results
    # are deterministic, so the audit rows are unchanged. (knn/label-
    # prop are lazy builds sharing the stage memo — racing fills write
    # the same value.)
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=3) as pool:
        f_kc = pool.submit(emb_kcenter_init, spark, sf_dir)
        f_km = pool.submit(emb_kmeans_train, spark, sf_dir)
        f_kg = pool.submit(emb_knn_graph, spark, sf_dir)
        kg_df = f_kg.result()
        # label-prop AFTER the knn build so its internal emb_knn_graph
        # call hits the stage memo (a concurrent second build would
        # persist a duplicate edge table pinned for the JVM lifetime)
        lp_df = emb_label_propagation(spark, sf_dir)
        kc_df, km_df = f_kc.result(), f_km.result()
    kc = kc_df.agg(
        *row("kcenter", "coverage_radius_micro", F.max("dist_micro"))
    )
    km = (
        km_df
        .filter(F.col("round") == KMEANS_TRAIN_ROUNDS)
        .agg(*row("kmeans", "final_inertia_micro", F.sum("inertia_micros")))
    )
    kg = kg_df.agg(
        *row("knn_graph", "n_mutual_edges", F.count_if(F.col("mutual")))
    )
    lp1 = lp_df.agg(*row("label_prop", "n_agree", F.count_if(F.col("agrees"))))
    lp2 = lp_df.agg(*row("label_prop", "n_scored", F.count(F.lit(1))))
    return (
        kc.unionByName(km)
        .unionByName(kg)
        .unionByName(lp1)
        .unionByName(lp2)
        .orderBy("stage", "metric")
    )


# -- PERSISTED trained-IVF index: FAISS-style index lifecycle ----------------
#
# The serving queries above rebuild their coarse structure per session
# (memoized label-centroids). This section is the production index
# LIFECYCLE: train k-means once, persist the (centroids, assignment)
# relation as real warehouse tables — the artifact an ANN service owns
# and ships — and serve queries that only READ it (probe nprobe nearest
# centroids from the centroids table, scan assigned vectors via the
# assignment table, exact-rerank). Mirrors the dedup module's persisted
# LSH/hash indexes: build once / adopt across sessions / probe forever.


_IVF_IDX_TABLES = ("centroids", "assign")
_IVF_IDX_SCHEMA = {"centroids": ("cid", "cv"), "assign": ("vec_id", "cid")}


def _ivf_index_db(sf_dir: str) -> str:
    # Fingerprinted name (ADVICE r7): see index_store.index_db_name —
    # an index can only be adopted by the exact corpus it was built on.
    from .index_store import index_db_name

    return index_db_name("sim_ivf_idx", sf_dir, ("embeddings.parquet",))


def _train_centroids(spark: SparkSession, sf_dir: str) -> list:
    """Final round-{KMEANS_TRAIN_ROUNDS} Lloyd centroids (k={KMEANS_K},
    deterministic lowest-vec_id init) — the emb_kmeans_train loop minus
    the trajectory bookkeeping; per round one scan + k x 64 collect."""
    with _refcounted_persist(
        _kmeans_wide(_emb(spark, sf_dir).select("vec_id", "emb"))
    ) as e:
        cents = [
            (int(r["vec_id"]), [float(x) for x in r["emb"]])
            for r in e.filter(F.col("vec_id") < KMEANS_K)
            .select("vec_id", "emb")
            .collect()
        ]
        for _ in range(KMEANS_TRAIN_ROUNDS):
            assigned = _assign_enc(spark, e, cents).select(
                "emb", (F.col("enc") % 100000).cast("int").alias("cid")
            )
            rows = (
                assigned.select("cid", F.posexplode("emb").alias("pos", "v"))
                .groupBy("cid", "pos")
                .agg((F.round(F.avg("v"), 4) + F.lit(0.0)).alias("m"))
                .collect()
            )
            by_cid: dict[int, list[float]] = {}
            for row in rows:
                by_cid.setdefault(int(row["cid"]), [0.0] * 64)[
                    int(row["pos"])
                ] = float(row["m"])
            cents = sorted(by_cid.items())
        return cents


def build_ivf_index(
    spark: SparkSession, sf_dir: str, db: str | None = None
) -> str:
    """Materialize the trained-IVF index: ``<db>.centroids`` (cid, cv —
    the k final Lloyd centroids) and ``<db>.assign`` (vec_id, cid — a
    serving-assignment pass of every vector against those centroids via
    the engine-exact integer-encoded argmin). Catalog-reused, location-
    adopted across sessions; returns 'built' or 'reused'. At 100 TB the
    assign relation is the partition key of the vector store (each
    inverted list is a partition); here it's the semi-join surface.

    Bootstrap lifecycle (catalog-first reuse, cross-session location
    adoption, clear-and-rebuild on half-written groups) is the shared
    ``index_store.ensure_tables`` contract."""
    from .index_store import ensure_tables

    if db is None:
        db = _ivf_index_db(sf_dir)

    def _build() -> None:
        cents = _train_centroids(spark, sf_dir)
        local_rows_df(spark, 
            [(cid, cv) for cid, cv in cents], "cid int, cv array<double>"
        ).write.format("parquet").mode("overwrite").saveAsTable(
            f"{db}.centroids"
        )
        e = _kmeans_wide(_emb(spark, sf_dir).select("vec_id", "emb"))
        _assign_enc(spark, e, cents).select(
            "vec_id", (F.col("enc") % 100000).cast("int").alias("cid")
        ).write.format("parquet").mode("overwrite").saveAsTable(f"{db}.assign")

    return ensure_tables(
        spark, db, _IVF_IDX_TABLES, _build, expect=_IVF_IDX_SCHEMA
    )


def _duck_ivf_trained(exclude: str = "") -> str:
    """Oracle: replay the Lloyd training (same unrolled CTE chain as
    emb_kmeans_train's oracle, minus the trajectory), the serving
    assignment, the nprobe probe selection, and the exact rerank.
    ``exclude``: extra predicate ANDed into the final candidate filter
    (the erasure oracle — centroids still train on the FULL corpus,
    because forgetting never retrains)."""
    ctes = [
        "e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings)",
        f"c0 AS (SELECT vec_id AS cid, emb AS cv FROM e WHERE vec_id < {KMEANS_K})",
    ]
    for r in range(1, KMEANS_TRAIN_ROUNDS + 1):
        ctes += [
            f"""p{r} AS (
      SELECT e.vec_id,
             min(printf('%015.6f|%05d',
                        round(list_distance(e.emb, c.cv), 6), c.cid)) AS p
      FROM e, c{r - 1} c GROUP BY e.vec_id
    )""",
            f"a{r} AS (SELECT vec_id, CAST(substr(p, 17, 5) AS INT) AS cid FROM p{r})",
            f"""dims{r} AS (
      SELECT a.cid, i, round(avg(e.emb[i]), 4) + 0.0 AS m
      FROM a{r} a JOIN e USING (vec_id), generate_series(1, 64) s(i)
      GROUP BY a.cid, i
    )""",
            f"c{r} AS (SELECT cid, list(m ORDER BY i) AS cv FROM dims{r} GROUP BY cid)",
        ]
    R = KMEANS_TRAIN_ROUNDS
    ctes += [
        f"""ps AS (
      SELECT e.vec_id,
             min(printf('%015.6f|%05d',
                        round(list_distance(e.emb, c.cv), 6), c.cid)) AS p
      FROM e, c{R} c GROUP BY e.vec_id
    )""",
        "aserve AS (SELECT vec_id, CAST(substr(p, 17, 5) AS INT) AS cid FROM ps)",
        f"q AS (SELECT emb AS qv FROM e WHERE vec_id = {QUERY_VEC_ID})",
        f"""probes AS (
      SELECT c.cid FROM c{R} c, q
      ORDER BY (list_dot_product(c.cv, q.qv) /
                nullif(sqrt(list_dot_product(c.cv, c.cv))
                       * sqrt(list_dot_product(q.qv, q.qv)), 0)) DESC, c.cid
      LIMIT {IVF_NPROBE}
    )""",
    ]
    return (
        "WITH " + ",\n    ".join(ctes) + f"""
    SELECT e.vec_id,
           round((list_dot_product(e.emb, q.qv) /
                  nullif(sqrt(list_dot_product(e.emb, e.emb))
                         * sqrt(list_dot_product(q.qv, q.qv)), 0)), 4) AS cosine
    FROM e JOIN aserve USING (vec_id), q
    WHERE aserve.cid IN (SELECT cid FROM probes)
      AND e.vec_id <> {QUERY_VEC_ID}
      {exclude}
    ORDER BY cosine DESC, e.vec_id
    LIMIT {TOP_K}
    """
    )


@register("sim_ivf_trained_indexed", _duck_ivf_trained())
def sim_ivf_trained_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN serving against the PERSISTED trained-IVF index — the FAISS
    index-lifecycle shape: build once (k-means-trained centroids + a
    serving assignment of every vector, both real warehouse tables,
    adopted across sessions), then each query only READS the index:
    rank the k centroids from the centroids table by cosine to the
    query (k-bounded), broadcast-semi-join the {IVF_NPROBE} probed
    lists onto the assignment table, and exact-rerank the candidate
    vectors. Completes the module's IVF story: sim_ivf_* demonstrate
    the probe math on session-built label lists; this owns the trained
    artifact the way a production vector store does.

    Scale: the query-side plan touches only (a) a k-row centroids read
    (collected to the driver — probe ranking is k-bounded math, not a
    Spark job), (b) the nprobe cids PUSHED into the assignment scan as
    a literal IN filter — at 100 TB the inverted-list partition key,
    so this is partition pruning — and (c) the candidate vectors.
    Training cost is paid once at build; repeat sessions adopt the
    tables by location without recomputing.
    """
    build_ivf_index(spark, sf_dir)
    db = _ivf_index_db(sf_dir)
    e = _emb(spark, sf_dir)
    return _serve_ivf_index(spark, db, e)


def _serve_ivf_index(spark: SparkSession, db: str, e: DataFrame) -> DataFrame:
    """Query-side IVF serving over a persisted index database: k-row
    centroid ranking ON THE DRIVER, the chosen nprobe cids pushed into
    the (tombstone-filtered) assignment scan as a literal IN filter,
    exact rerank of the candidates.

    Probe selection moved driver-side in round 11 (bench adjudication,
    VERDICT r10 #2): the centroids table is k rows by construction, so
    ranking it in a Spark subplan bought nothing but an extra job and a
    broadcast build per serve (~0.8s of the measured 2s warm serve at
    sf0.1). A k-row collect + plain-Python cosine (the SAME
    left-to-right double fold the SQL expression and the DuckDB oracle
    evaluate, zero-norm centroids ordered last like NULLS LAST) picks
    identical cids, and the literal IN predicate reaches the parquet
    scan as a PushedFilter — at 100 TB, where assign is partitioned by
    cid (the inverted list), that is partition pruning instead of a
    runtime semi-join (pinned by tests/test_plans.py)."""
    import math as _math

    from .index_store import read_live

    qv = e.filter(F.col("vec_id") == QUERY_VEC_ID).select("emb").head()[0]
    q_lit = F.array(*[F.lit(float(x)) for x in qv])
    qn = _math.sqrt(sum(x * x for x in qv))
    scored: list[tuple[float, int]] = []
    for r in spark.table(f"{db}.centroids").collect():  # k-bounded
        cv = r["cv"]
        dot = 0.0
        for x, y in zip(cv, qv):
            dot += x * y
        nrm = _math.sqrt(sum(x * x for x in cv)) * qn
        scored.append(
            (-(dot / nrm) if nrm != 0.0 else _math.inf, int(r["cid"]))
        )
    cids = [cid for _, cid in sorted(scored)[:IVF_NPROBE]]
    # tombstoned vectors (the erasure overlay) vanish from serving
    (assign,) = read_live(spark, db, ("assign",), "vec_id")
    cand = assign.filter(F.col("cid").isin(cids))
    return (
        e.filter(F.col("vec_id") != QUERY_VEC_ID)
        .join(cand, "vec_id", "left_semi")
        .withColumn("qv", q_lit)
        .select(
            "vec_id",
            F.round(F.expr(_cosine_expr("emb", "qv")), 4).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), "vec_id")
        .limit(TOP_K)
    )


IVF_FORGET_MOD = 9  # vec_id % 9 == 4 -> the erased slice (never the query vec)


@register(
    "sim_ivf_forget",
    _duck_ivf_trained(exclude=f"AND e.vec_id % {IVF_FORGET_MOD} <> 4"),
    lifecycle=True,
)
def sim_ivf_forget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Targeted erasure E2E over the persisted IVF index: build (or
    adopt) a dedicated index, FORGET the ``vec_id % {IVF_FORGET_MOD} ==
    4`` slice (tombstone append — centroids frozen, assignment not
    rewritten), then serve the standard top-{TOP_K} query. Erased
    vectors must be invisible to serving — the oracle trains on the
    FULL corpus (erasure never retrains) and excludes the slice only
    from the candidate set, exactly the tombstone semantics.

    The index lives in its own ``_fg``-suffixed database so erasure
    state never contaminates sim_ivf_trained_indexed's shared artifact;
    repeat invocations re-apply the forget set idempotently and hit the
    bootstrap's 'reused' path. Scale: see ``index_store.forget`` /
    ``index_store.fold_tombstones`` — O(|forgotten|) request path, fold
    at maintenance, broadcast-sized tombstones between compactions.
    Centroids are deliberately NOT retrained: accumulated drift is the
    retrain trigger's business, not the erasure path's.
    """
    from .index_store import forget

    db = _ivf_index_db(sf_dir) + "_fg"
    build_ivf_index(spark, sf_dir, db=db)
    e = _emb(spark, sf_dir)
    erase = e.filter(F.col("vec_id") % IVF_FORGET_MOD == 4).select("vec_id")
    forget(spark, db, "vec_id", erase)
    return _serve_ivf_index(spark, db, e)


IVF_FORGET_WAVE2 = 7  # vec_id % 9 == 7 -> the second streamed erasure wave


def _duck_stream_ivf_forget() -> str:
    """Oracle: the standard serve replayed after each erasure wave —
    training always on the FULL corpus (erasure never retrains), the
    candidate set progressively excluding the erased slices."""
    ex1 = f"AND e.vec_id % {IVF_FORGET_MOD} <> 4"
    ex2 = (
        f"AND e.vec_id % {IVF_FORGET_MOD} NOT IN (4, {IVF_FORGET_WAVE2})"
    )
    return (
        f"SELECT 0 AS batch_id, * FROM ({_duck_ivf_trained(exclude=ex1)})"
        " UNION ALL "
        f"SELECT 1 AS batch_id, * FROM ({_duck_ivf_trained(exclude=ex2)})"
    )


@register("stream_ivf_forget", _duck_stream_ivf_forget(), lifecycle=True)
def stream_ivf_forget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING ERASURE for the vector index — completing erasure-as-
    a-stream across all three index families ({exact, near-dup, IVF} x
    {batch gate, streaming gate, batch erasure, STREAMING erasure}):
    vector forget waves arrive as micro-batches, each wave's vec_ids
    join the tombstone overlay (:func:`index_store.forget`, centroids
    frozen, assignment not rewritten), and the standard top-{TOP_K}
    query is served between waves — each wave's vectors invisible to
    the very next serve. Emits (batch_id, vec_id, cosine) per wave.

    Dedicated ``_fgs`` index (full-corpus build via the shared
    bootstrap); tombstones are per-run stream state, reset at query
    start. Scale: per wave, one O(|wave|) append + one nprobe-bounded
    serve through the broadcast anti-join.
    """
    from .index_store import forget, reset_scratch

    db = _ivf_index_db(sf_dir) + "_fgs"
    build_ivf_index(spark, sf_dir, db=db)
    reset_scratch(spark, db, {"tombstones": "vec_id bigint"})
    e = _emb(spark, sf_dir)
    # forget waves (vec_id only): the vec_id % IVF_FORGET_MOD == 4 slice,
    # then == IVF_FORGET_WAVE2; neither ever holds the query vector
    staged = stage_batches(
        spark, "ivf_forget_arrivals", sf_dir, "embeddings.parquet",
        [
            e.filter(F.col("vec_id") % IVF_FORGET_MOD == m).select("vec_id")
            for m in (4, IVF_FORGET_WAVE2)
        ],
    )
    out_dir = scratch_dir(
        "ivf_forget_serves", sf_dir, ("embeddings.parquet",), fresh=True
    )

    def _on_batch(batch_df: DataFrame) -> DataFrame:
        forget(spark, db, "vec_id", batch_df.select("vec_id"))
        return _serve_ivf_index(spark, db, e).select("vec_id", "cosine")

    return stream_batches(spark, staged, _on_batch, out_dir)


# -- IVF index UPSERT: new vectors join the index without retraining ---------

IVF_UPSERT_MOD = 5  # vec_id % 5 == 0 -> the arriving vectors; rest = owned


def _ivf_base(e: DataFrame) -> DataFrame:
    return e.filter(F.col("vec_id") % IVF_UPSERT_MOD != 0)


def build_ivf_base_index(
    spark: SparkSession, sf_dir: str, db: str | None = None
) -> str:
    """Trained-IVF index over the OWNED split only (vec_id %
    {IVF_UPSERT_MOD} != 0) under ``<db>_up`` (or an explicit ``db`` for
    dedicated-index callers like the streaming admission gate) — the
    base a vector store owns before new embeddings arrive. Init: the K
    lowest vec_ids OF THE SPLIT (cid = vec_id). Same build-once/adopt
    contract as build_ivf_index (shared ``index_store.ensure_tables``)."""
    from .index_store import ensure_tables

    if db is None:
        db = _ivf_index_db(sf_dir) + "_up"

    def _build() -> None:
        base = _kmeans_wide(
            _ivf_base(_emb(spark, sf_dir)).select("vec_id", "emb")
        ).persist()
        try:
            cents = [
                (int(r["vec_id"]), [float(x) for x in r["emb"]])
                for r in base.orderBy("vec_id")
                .limit(KMEANS_K)
                .select("vec_id", "emb")
                .collect()
            ]
            for _ in range(KMEANS_TRAIN_ROUNDS):
                assigned = _assign_enc(spark, base, cents).select(
                    "emb", (F.col("enc") % 100000).cast("int").alias("cid")
                )
                rows = (
                    assigned.select(
                        "cid", F.posexplode("emb").alias("pos", "v")
                    )
                    .groupBy("cid", "pos")
                    .agg((F.round(F.avg("v"), 4) + F.lit(0.0)).alias("m"))
                    .collect()
                )
                by_cid: dict[int, list[float]] = {}
                for row in rows:
                    by_cid.setdefault(int(row["cid"]), [0.0] * 64)[
                        int(row["pos"])
                    ] = float(row["m"])
                cents = sorted(by_cid.items())
            local_rows_df(spark, 
                [(cid, cv) for cid, cv in cents], "cid int, cv array<double>"
            ).write.format("parquet").mode("overwrite").saveAsTable(
                f"{db}.centroids"
            )
            _assign_enc(spark, base, cents).select(
                "vec_id", (F.col("enc") % 100000).cast("int").alias("cid")
            ).write.format("parquet").mode("overwrite").saveAsTable(
                f"{db}.assign"
            )
        finally:
            base.unpersist()

    return ensure_tables(
        spark, db, _IVF_IDX_TABLES, _build, expect=_IVF_IDX_SCHEMA
    )


def upsert_ivf_vectors(spark: SparkSession, sf_dir: str) -> str:
    """UPSERT the arriving vectors (vec_id % {IVF_UPSERT_MOD} == 0) into
    the persisted IVF index WITHOUT retraining: assign each against the
    stored centroids (the engine-exact integer-encoded argmin) and
    append to the assignment relation. Idempotent: if the index already
    holds any arriving vector, the upsert already ran. This is how
    production vector stores absorb writes between periodic retrains —
    centroids stay frozen, lists grow. The append takes the index's
    cross-process maintenance lease: racing a concurrent fold's staged
    assign rewrite would drop rows appended between the fold's kept-set
    read and its swap."""
    from ..catalog import catalog_lock

    from .lease import maintenance_lease

    db = _ivf_index_db(sf_dir) + "_up"
    with catalog_lock, maintenance_lease(spark, db) as lease:
        done = not (
            spark.table(f"{db}.assign")
            .filter(F.col("vec_id") % IVF_UPSERT_MOD == 0)
            .isEmpty()
        )
        if done:
            return "reused"
        cents = [
            (int(r["cid"]), [float(x) for x in r["cv"]])
            for r in spark.table(f"{db}.centroids").collect()
        ]
        arriving = _kmeans_wide(
            _emb(spark, sf_dir)
            .filter(F.col("vec_id") % IVF_UPSERT_MOD == 0)
            .select("vec_id", "emb")
        )
        upserts = _assign_enc(spark, arriving, cents).select(
            "vec_id", (F.col("enc") % 100000).cast("int").alias("cid")
        )
        lease.renew()  # the assignment scan may outlast the TTL (r10)
        lease.check()  # fence the append
        upserts.write.format("parquet").mode("append").saveAsTable(
            f"{db}.assign"
        )
        spark.catalog.refreshTable(f"{db}.assign")
        return "upserted"


def _duck_ivf_upsert() -> str:
    """Oracle: train on the owned split, serve-assign it, assign the
    arriving split against the SAME frozen centroids, union, probe,
    exact-rerank."""
    ctes = [
        "e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings)",
        f"eb AS (SELECT * FROM e WHERE vec_id % {IVF_UPSERT_MOD} <> 0)",
        f"""c0 AS (
      SELECT vec_id AS cid, emb AS cv FROM eb ORDER BY vec_id LIMIT {KMEANS_K}
    )""",
    ]
    for r in range(1, KMEANS_TRAIN_ROUNDS + 1):
        ctes += [
            f"""p{r} AS (
      SELECT eb.vec_id,
             min(printf('%015.6f|%05d',
                        round(list_distance(eb.emb, c.cv), 6), c.cid)) AS p
      FROM eb, c{r - 1} c GROUP BY eb.vec_id
    )""",
            f"a{r} AS (SELECT vec_id, CAST(substr(p, 17, 5) AS INT) AS cid FROM p{r})",
            f"""dims{r} AS (
      SELECT a.cid, i, round(avg(eb.emb[i]), 4) + 0.0 AS m
      FROM a{r} a JOIN eb USING (vec_id), generate_series(1, 64) s(i)
      GROUP BY a.cid, i
    )""",
            f"c{r} AS (SELECT cid, list(m ORDER BY i) AS cv FROM dims{r} GROUP BY cid)",
        ]
    R = KMEANS_TRAIN_ROUNDS
    ctes += [
        f"""pall AS (
      SELECT e.vec_id,
             min(printf('%015.6f|%05d',
                        round(list_distance(e.emb, c.cv), 6), c.cid)) AS p
      FROM e, c{R} c GROUP BY e.vec_id
    )""",
        # base vectors serve-assigned at build; arriving vectors at
        # upsert — both against the same frozen c{R}, so ONE assignment
        # CTE over all vectors replays the union exactly
        "au AS (SELECT vec_id, CAST(substr(p, 17, 5) AS INT) AS cid FROM pall)",
        f"q AS (SELECT emb AS qv FROM e WHERE vec_id = {QUERY_VEC_ID})",
        f"""probes AS (
      SELECT c.cid FROM c{R} c, q
      ORDER BY (list_dot_product(c.cv, q.qv) /
                nullif(sqrt(list_dot_product(c.cv, c.cv))
                       * sqrt(list_dot_product(q.qv, q.qv)), 0)) DESC, c.cid
      LIMIT {IVF_NPROBE}
    )""",
    ]
    return (
        "WITH " + ",\n    ".join(ctes) + f"""
    SELECT e.vec_id,
           round((list_dot_product(e.emb, q.qv) /
                  nullif(sqrt(list_dot_product(e.emb, e.emb))
                         * sqrt(list_dot_product(q.qv, q.qv)), 0)), 4) AS cosine,
           (e.vec_id % {IVF_UPSERT_MOD} = 0) AS was_upserted
    FROM e JOIN au USING (vec_id), q
    WHERE au.cid IN (SELECT cid FROM probes)
      AND e.vec_id <> {QUERY_VEC_ID}
    ORDER BY cosine DESC, e.vec_id
    LIMIT {TOP_K}
    """
    )


@register("sim_ivf_upsert", _duck_ivf_upsert(), lifecycle=True)
def sim_ivf_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index UPSERT + serve — the missing half of the index
    lifecycle: the base index is trained/persisted over the owned split
    only, the arriving vectors (vec_id % {IVF_UPSERT_MOD} == 0) join it
    through assignment against the FROZEN centroids (no retrain), and
    the query's top-k is served from the unioned assignment relation —
    proving upserted vectors are immediately findable (the
    was_upserted flag marks them in the result). Centroid drift is the
    operational cost of frozen-centroid upserts; a periodic retrain
    (build_ivf_base_index with fresh data) is the production
    counterpart, same code path.
    """
    from .index_store import read_live

    build_ivf_base_index(spark, sf_dir)
    upsert_ivf_vectors(spark, sf_dir)
    db = _ivf_index_db(sf_dir) + "_up"
    e = _emb(spark, sf_dir)
    qv = e.filter(F.col("vec_id") == QUERY_VEC_ID).select("emb").head()[0]
    q_lit = F.array(*[F.lit(float(x)) for x in qv])
    probes = (
        spark.table(f"{db}.centroids")
        .withColumn("qv", q_lit)
        .select("cid", F.expr(_cosine_expr("cv", "qv")).alias("csim"))
        .orderBy(F.col("csim").desc(), "cid")
        .limit(IVF_NPROBE)
        .select("cid")
    )
    (assign,) = read_live(spark, db, ("assign",), "vec_id")
    cand = assign.join(F.broadcast(probes), "cid", "left_semi")
    return (
        e.filter(F.col("vec_id") != QUERY_VEC_ID)
        .join(cand, "vec_id", "left_semi")
        .withColumn("qv", q_lit)
        .select(
            "vec_id",
            F.round(F.expr(_cosine_expr("emb", "qv")), 4).alias("cosine"),
            (F.col("vec_id") % IVF_UPSERT_MOD == 0).alias("was_upserted"),
        )
        .orderBy(F.col("cosine").desc(), "vec_id")
        .limit(TOP_K)
    )


# -- IVF retrain trigger: measured centroid drift ---------------------------

DRIFT_RETRAIN_THRESHOLD = 0.10  # churn fraction that flags a list for retrain


def _duck_ivf_drift() -> str:
    """Oracle: replay the frozen-centroid index (owned-split training +
    full-corpus assignment — the upsert oracle's chain), then ONE Lloyd
    refresh step over the CURRENT corpus and the churn aggregation."""
    R = KMEANS_TRAIN_ROUNDS
    ctes = [
        "e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings)",
        f"eb AS (SELECT * FROM e WHERE vec_id % {IVF_UPSERT_MOD} <> 0)",
        f"""c0 AS (
      SELECT vec_id AS cid, emb AS cv FROM eb ORDER BY vec_id LIMIT {KMEANS_K}
    )""",
    ]
    for r in range(1, R + 1):
        ctes += [
            f"""p{r} AS (
      SELECT eb.vec_id,
             min(printf('%015.6f|%05d',
                        round(list_distance(eb.emb, c.cv), 6), c.cid)) AS p
      FROM eb, c{r - 1} c GROUP BY eb.vec_id
    )""",
            f"a{r} AS (SELECT vec_id, CAST(substr(p, 17, 5) AS INT) AS cid FROM p{r})",
            f"""dims{r} AS (
      SELECT a.cid, i, round(avg(eb.emb[i]), 4) + 0.0 AS m
      FROM a{r} a JOIN eb USING (vec_id), generate_series(1, 64) s(i)
      GROUP BY a.cid, i
    )""",
            f"c{r} AS (SELECT cid, list(m ORDER BY i) AS cv FROM dims{r} GROUP BY cid)",
        ]
    ctes += [
        # stored assignment: EVERY current vector against the frozen c{R}
        f"""pall AS (
      SELECT e.vec_id,
             min(printf('%015.6f|%05d',
                        round(list_distance(e.emb, c.cv), 6), c.cid)) AS p
      FROM e, c{R} c GROUP BY e.vec_id
    )""",
        "sa AS (SELECT vec_id, CAST(substr(p, 17, 5) AS INT) AS cid FROM pall)",
        # ONE refresh step: per-cluster means over the CURRENT corpus
        f"""rdims AS (
      SELECT a.cid, i, round(avg(e.emb[i]), 4) + 0.0 AS m
      FROM sa a JOIN e USING (vec_id), generate_series(1, 64) s(i)
      GROUP BY a.cid, i
    )""",
        "cr AS (SELECT cid, list(m ORDER BY i) AS cv FROM rdims GROUP BY cid)",
        """pr AS (
      SELECT e.vec_id,
             min(printf('%015.6f|%05d',
                        round(list_distance(e.emb, c.cv), 6), c.cid)) AS p
      FROM e, cr c GROUP BY e.vec_id
    )""",
        "ra AS (SELECT vec_id, CAST(substr(p, 17, 5) AS INT) AS cid FROM pr)",
    ]
    return (
        "WITH " + ",\n    ".join(ctes) + f"""
    SELECT sa.cid,
           count(*) AS n_vecs,
           CAST(sum(CASE WHEN ra.cid <> sa.cid THEN 1 ELSE 0 END) AS BIGINT)
             AS n_churned,
           round(CAST(sum(CASE WHEN ra.cid <> sa.cid THEN 1 ELSE 0 END)
                      AS DOUBLE) / count(*), 4) AS churn_frac,
           (CAST(sum(CASE WHEN ra.cid <> sa.cid THEN 1 ELSE 0 END)
                 AS DOUBLE) / count(*)) >= {DRIFT_RETRAIN_THRESHOLD}
             AS retrain
    FROM sa JOIN ra USING (vec_id)
    GROUP BY sa.cid
    """
    )


@register("sim_ivf_drift_stats", _duck_ivf_drift())
def sim_ivf_drift_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The RETRAIN TRIGGER the frozen-centroid lifecycle keeps promising
    (sim_ivf_upsert and sim_ivf_forget both defer drift "to the retrain
    trigger" — this is it): measure, per inverted list, how much the
    stored assignment would change if the centroids took ONE Lloyd
    refresh step over the CURRENT corpus. Emits (cid, n_vecs,
    n_churned, churn_frac, retrain) — the maintenance-window dashboard
    row; a list whose churn fraction reaches
    {DRIFT_RETRAIN_THRESHOLD:.0%} is flagged for retrain.

    Uses the shared ``_up`` index artifact (owned-split training +
    frozen-centroid upserts — build and upsert are both idempotent
    'reused' hits when sim_ivf_upsert ran first). The drift math reuses
    the trainer's engine-exact primitives (integer-encoded argmin,
    4-decimal centroid means), so the oracle replays it bit-for-bit.

    Scale: one serve-assignment scan (already the index's own shape) +
    one k x 64 partial-agg refresh + one re-assignment scan + a k-row
    churn aggregate — all map-side-combined; the driver handles only
    k x 64 centroid cells. Run it in the compaction window; its output
    IS the retrain schedule, closing the loop on frozen-centroid
    operations.
    """
    build_ivf_base_index(spark, sf_dir)
    upsert_ivf_vectors(spark, sf_dir)
    db = _ivf_index_db(sf_dir) + "_up"
    cents0 = [
        (int(r["cid"]), [float(x) for x in r["cv"]])
        for r in spark.table(f"{db}.centroids").collect()
    ]
    with _refcounted_persist(
        _kmeans_wide(_emb(spark, sf_dir).select("vec_id", "emb"))
    ) as e:
        # stored assignment of the CURRENT corpus against frozen
        # centroids — identical math to the assign table's union (base
        # serve-assign + upsert-assign), recomputed here so the drift
        # report also covers vectors not yet upserted
        a0 = _assign_enc(spark, e, cents0).select(
            "vec_id",
            (F.col("enc") % 100000).cast("int").alias("cid"),
            "emb",
        )
        rows = (
            a0.select("cid", F.posexplode("emb").alias("pos", "v"))
            .groupBy("cid", "pos")
            .agg((F.round(F.avg("v"), 4) + F.lit(0.0)).alias("m"))
            .collect()
        )
        by_cid: dict[int, list[float]] = {}
        for row in rows:
            by_cid.setdefault(int(row["cid"]), [0.0] * 64)[
                int(row["pos"])
            ] = float(row["m"])
        cents1 = sorted(by_cid.items())
        a1 = _assign_enc(spark, e, cents1).select(
            "vec_id", (F.col("enc") % 100000).cast("int").alias("cid1")
        )
        churned = F.sum(
            F.when(F.col("cid1") != F.col("cid"), 1).otherwise(0)
        ).cast("bigint")
        return (
            a0.select("vec_id", "cid")
            .join(a1, "vec_id")
            .groupBy("cid")
            .agg(
                F.count(F.lit(1)).alias("n_vecs"),
                churned.alias("n_churned"),
            )
            .select(
                "cid",
                "n_vecs",
                "n_churned",
                F.round(
                    F.col("n_churned").cast("double") / F.col("n_vecs"), 4
                ).alias("churn_frac"),
                (
                    F.col("n_churned").cast("double") / F.col("n_vecs")
                    >= DRIFT_RETRAIN_THRESHOLD
                ).alias("retrain"),
            )
        )


# -- IVF retrain execution: versioned rebuild-and-swap -----------------------

_RT_V1_TABLES = ("centroids_v1", "assign_v1", "live_version")
_RT_V2_TABLES = ("centroids_v2", "assign_v2")
_RT_SCHEMA = {
    "centroids_v1": ("cid", "cv"),
    "assign_v1": ("vec_id", "cid"),
    "centroids_v2": ("cid", "cv"),
    "assign_v2": ("vec_id", "cid"),
    "live_version": ("version",),
}


def _rt_db(sf_dir: str) -> str:
    return _ivf_index_db(sf_dir) + "_rt"


def _rt_live_version(spark: SparkSession, db: str) -> int:
    """Resolve the serving version: the pointer value when that
    version's tables are COMPLETE, else the highest complete version.
    Versions are immutable within an epoch, so every crash window of
    the promotion (:func:`gc_ivf_versions`) resolves to a fully-built
    version: a pointer still saying 2 after GC dropped v2 falls back to
    the promoted v1."""
    available = [
        v
        for v, tables in ((1, _RT_V1_TABLES[:2]), (2, _RT_V2_TABLES))
        if all(spark.catalog.tableExists(f"{db}.{t}") for t in tables)
    ]
    if not available:
        return 1
    ptr = _rt_pointer(spark, db)
    return ptr if ptr in available else max(available)


def _rt_pointer(spark: SparkSession, db: str) -> int | None:
    """The ``live_version`` pointer's value (its highest row; one
    collect), or None when the table is missing or empty."""
    if not spark.catalog.tableExists(f"{db}.live_version"):
        return None
    rows = spark.table(f"{db}.live_version").collect()
    return max((int(r["version"]) for r in rows), default=None)


def _rt_ensure_v1(spark: SparkSession, sf_dir: str, db: str) -> str:
    """Bootstrap the versioned-index database's v1 slot from the shared
    ``_up`` artifact (owned-split training + frozen-centroid upserts)
    with a pointer at 1 — shared by :func:`retrain_ivf_index` and the
    policy gate :func:`maybe_retrain_ivf` (whose skip branch must still
    have a live version to serve from). The v1 tables are hardlink
    clones of the ``_up`` tables (:func:`index_store.clone_table`): no
    Spark job and no bytes copied. The pointer is written last, so its
    presence witnesses a complete group. A pointer rewrite cut short
    leaves ``live_version__staged`` and no pointer, so the staged commit
    is finished first: otherwise the missing pointer would rebuild the
    whole group."""
    from .index_store import clone_table, ensure_tables, recover_staged

    up = _ivf_index_db(sf_dir) + "_up"

    def _build_v1() -> None:
        build_ivf_base_index(spark, sf_dir)
        upsert_ivf_vectors(spark, sf_dir)
        clone_table(spark, up, "centroids", db, "centroids_v1")
        clone_table(spark, up, "assign", db, "assign_v1")
        local_rows_df(spark, [(1,)], "version int").write.format(
            "parquet"
        ).saveAsTable(f"{db}.live_version")

    recover_staged(spark, db, ("live_version",))
    return ensure_tables(spark, db, _RT_V1_TABLES, _build_v1, expect=_RT_SCHEMA)


def retrain_ivf_index(
    spark: SparkSession, sf_dir: str, db: str | None = None
) -> dict:
    """EXECUTE the retrain :func:`sim_ivf_drift_stats` triggers — the
    FAISS rebuild-and-swap shape the drift report's docstring promises:

    1. **v1** = the current frozen-centroid artifact (owned-split Lloyd
       training + full-corpus assignment, i.e. the shared ``_up`` index
       incl. its upserts), versioned into a dedicated ``_rt`` database
       as ``centroids_v1``/``assign_v1`` with a 1-row ``live_version``
       pointer. The copy is a hardlink clone of the ``_up`` files
       (:func:`index_store.clone_table`): a metadata operation at any
       scale, with no Spark job.
    2. **v2** = the retrain: ONE Lloyd refresh over the CURRENT corpus
       grouped by the v1 assignment (exactly the step the drift trigger
       measures — trigger and execution share the math), then a full
       reassignment of every current vector against the refreshed
       centroids. Written as NEW tables ``centroids_v2``/``assign_v2``
       while v1 keeps serving — the old version stays readable until
       the swap.
    3. **swap** = bump the ``live_version`` pointer to 2 with
       ``index_store.staged_overwrite``. Versions are immutable and the
       pointer monotone, so every crash window recovers: crash before
       the pointer write -> pointer still says v1, v2 is garbage that
       the next retrain's ``ensure_tables`` adopts or rebuilds; crash
       inside the staged commit -> the next retrain finishes it
       (``recover_staged``) before anything reads the pointer.

    Idempotent end-to-end: both version groups ride the shared
    ``index_store.ensure_tables`` bootstrap (catalog-first reuse,
    cross-session location adoption, clear-and-rebuild on half-written
    groups), and the pointer bump replays harmlessly. Returns
    ``{"v1": ..., "v2": ..., "live": 2}``: the swap reads the pointer
    once, and afterwards it says 2 with v2 complete, so callers serve
    ``live`` without resolving the version again.
    """
    from ..catalog import catalog_lock

    from .index_store import ensure_tables, staged_overwrite

    db = db or _rt_db(sf_dir)
    r1 = _rt_ensure_v1(spark, sf_dir, db)

    def _build_v2() -> None:
        with _refcounted_persist(
            _kmeans_wide(_emb(spark, sf_dir).select("vec_id", "emb"))
        ) as e:
            sa = spark.table(f"{db}.assign_v1")
            # ONE Lloyd refresh over the current corpus, grouped by the
            # stored v1 assignment — k x 64 rounded means, the
            # engine-exact primitive the drift trigger and the trainer
            # share (map-side-combined; driver sees k x 64 cells)
            rows = (
                e.join(sa, "vec_id")
                .select("cid", F.posexplode("emb").alias("pos", "v"))
                .groupBy("cid", "pos")
                .agg((F.round(F.avg("v"), 4) + F.lit(0.0)).alias("m"))
                .collect()
            )
            by_cid: dict[int, list[float]] = {}
            for row in rows:
                by_cid.setdefault(int(row["cid"]), [0.0] * 64)[
                    int(row["pos"])
                ] = float(row["m"])
            cents1 = sorted(by_cid.items())
            local_rows_df(spark, 
                [(cid, cv) for cid, cv in cents1],
                "cid int, cv array<double>",
            ).write.format("parquet").saveAsTable(f"{db}.centroids_v2")
            _assign_enc(spark, e, cents1).select(
                "vec_id", (F.col("enc") % 100000).cast("int").alias("cid")
            ).write.format("parquet").saveAsTable(f"{db}.assign_v2")

    # v2 build + pointer bump under the cross-process maintenance lease:
    # two concurrent retrainers in separate JVMs would otherwise race
    # the clear/saveAsTable windows of the version tables and the swap
    from .lease import maintenance_lease

    with maintenance_lease(spark, db) as lease:
        r2 = ensure_tables(
            spark, db, _RT_V2_TABLES, _build_v2, expect=_RT_SCHEMA
        )
        with catalog_lock:
            if _rt_pointer(spark, db) != 2:
                lease.check()  # fence before the pointer swap
                pointer = local_rows_df(spark, [(2,)], "version int")
                staged_overwrite(spark, db, "live_version", pointer)
    return {"v1": r1, "v2": r2, "live": 2}


def gc_ivf_versions(
    spark: SparkSession, sf_dir: str, db: str | None = None
) -> dict:
    """Terminal step of the retrain cycle: once the swap is live (v2
    serving), retire the superseded version by PROMOTING v2 into the v1
    slot and resetting the pointer — the steady state the next retrain
    epoch starts from (epoch N+1's refresh then trains off epoch N's
    result, exactly the rolling-retrain shape). Ordering keeps a
    complete, correctly-resolved version at every instant:

    1. overwrite the v1 tables from v2 (crash here: pointer still 2,
       v2 intact — serving unchanged; v1 already equals v2);
    2. drop the v2 tables (crash here: pointer says 2 but v2 is gone —
       ``_rt_live_version`` falls back to the promoted v1, same data);
    3. reset the pointer to 1 (``index_store.staged_overwrite``; a
       crash inside it is finished by ``recover_staged`` before the
       pointer is read again).

    A stale v2 can never be adopted by the next epoch because step 2
    precedes step 3: any state where the pointer reads 1 has no v2
    tables left. Idempotent: called when v1 is already live it only
    repairs a step-2/3 crash remnant. Returns {"gc": "promoted"},
    {"gc": "repaired"} or {"gc": "noop"}.

    EPOCH NOTE: GC advances the index epoch — after it, the next
    :func:`retrain_ivf_index` refreshes off the PROMOTED centroids, not
    the original ``_up`` snapshot. The registered ``sim_ivf_retrain``
    query pins epoch 1 for oracle replay, so GC must run against a
    dedicated ``db``, never the query's shared ``_rt`` database."""
    from ..catalog import catalog_lock

    from .index_store import clear_tables, recover_staged, staged_overwrite
    from .lease import maintenance_lease

    db = db or _rt_db(sf_dir)
    if not spark.catalog.databaseExists(db):
        return {"gc": "noop"}
    with catalog_lock, maintenance_lease(spark, db) as lease:
        recover_staged(spark, db, ("live_version",))
        if not all(spark.catalog.tableExists(f"{db}.{t}") for t in _RT_V2_TABLES):
            if _rt_pointer(spark, db) == 1:
                return {"gc": "noop"}
            out = "repaired"  # step-3 crash remnant: finish the pointer reset
        elif _rt_live_version(spark, db) != 2:
            return {"gc": "noop"}
        else:
            lease.check()  # fence before the promote/drop/reset sequence
            staged_overwrite(
                spark, db, "centroids_v1", spark.table(f"{db}.centroids_v2")
            )
            lease.renew()  # heartbeat between table swaps
            staged_overwrite(
                spark, db, "assign_v1", spark.table(f"{db}.assign_v2")
            )
            lease.check()  # fence before the irreversible v2 drop
            clear_tables(spark, db, _RT_V2_TABLES)
            out = "promoted"
        pointer = local_rows_df(spark, [(1,)], "version int")
        staged_overwrite(spark, db, "live_version", pointer)
        return {"gc": out}


def _duck_rt_chain_ctes() -> list[str]:
    """Shared oracle CTE chain for the retrain family: owned-split
    training (c0..c{R}), frozen full-corpus assignment ``sa`` (= the v1
    assign), ONE Lloyd refresh -> ``cr`` (= the v2 centroids), the
    reassignment ``ra`` (= the v2 assign), and the query vector ``q``.
    Callers append their own probe/serve CTEs."""
    R = KMEANS_TRAIN_ROUNDS
    ctes = [
        "e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings)",
        f"eb AS (SELECT * FROM e WHERE vec_id % {IVF_UPSERT_MOD} <> 0)",
        f"""c0 AS (
      SELECT vec_id AS cid, emb AS cv FROM eb ORDER BY vec_id LIMIT {KMEANS_K}
    )""",
    ]
    for r in range(1, R + 1):
        ctes += [
            f"""p{r} AS (
      SELECT eb.vec_id,
             min(printf('%015.6f|%05d',
                        round(list_distance(eb.emb, c.cv), 6), c.cid)) AS p
      FROM eb, c{r - 1} c GROUP BY eb.vec_id
    )""",
            f"a{r} AS (SELECT vec_id, CAST(substr(p, 17, 5) AS INT) AS cid FROM p{r})",
            f"""dims{r} AS (
      SELECT a.cid, i, round(avg(eb.emb[i]), 4) + 0.0 AS m
      FROM a{r} a JOIN eb USING (vec_id), generate_series(1, 64) s(i)
      GROUP BY a.cid, i
    )""",
            f"c{r} AS (SELECT cid, list(m ORDER BY i) AS cv FROM dims{r} GROUP BY cid)",
        ]
    ctes += [
        f"""pall AS (
      SELECT e.vec_id,
             min(printf('%015.6f|%05d',
                        round(list_distance(e.emb, c.cv), 6), c.cid)) AS p
      FROM e, c{R} c GROUP BY e.vec_id
    )""",
        "sa AS (SELECT vec_id, CAST(substr(p, 17, 5) AS INT) AS cid FROM pall)",
        """rdims AS (
      SELECT a.cid, i, round(avg(e.emb[i]), 4) + 0.0 AS m
      FROM sa a JOIN e USING (vec_id), generate_series(1, 64) s(i)
      GROUP BY a.cid, i
    )""",
        "cr AS (SELECT cid, list(m ORDER BY i) AS cv FROM rdims GROUP BY cid)",
        """pr AS (
      SELECT e.vec_id,
             min(printf('%015.6f|%05d',
                        round(list_distance(e.emb, c.cv), 6), c.cid)) AS p
      FROM e, cr c GROUP BY e.vec_id
    )""",
        "ra AS (SELECT vec_id, CAST(substr(p, 17, 5) AS INT) AS cid FROM pr)",
        f"q AS (SELECT emb AS qv FROM e WHERE vec_id = {QUERY_VEC_ID})",
    ]
    return ctes


def _duck_ivf_retrain() -> str:
    """Oracle: the drift oracle's chain (owned-split training, frozen
    full-corpus assignment sa, ONE refresh -> cr, reassignment -> ra),
    then the standard nprobe serve against the RETRAINED index, with
    ``moved`` = the served vector changed inverted lists in the swap."""
    ctes = _duck_rt_chain_ctes() + [
        f"""probes AS (
      SELECT c.cid FROM cr c, q
      ORDER BY (list_dot_product(c.cv, q.qv) /
                nullif(sqrt(list_dot_product(c.cv, c.cv))
                       * sqrt(list_dot_product(q.qv, q.qv)), 0)) DESC, c.cid
      LIMIT {IVF_NPROBE}
    )""",
    ]
    return (
        "WITH " + ",\n    ".join(ctes) + f"""
    SELECT e.vec_id,
           round((list_dot_product(e.emb, q.qv) /
                  nullif(sqrt(list_dot_product(e.emb, e.emb))
                         * sqrt(list_dot_product(q.qv, q.qv)), 0)), 4) AS cosine,
           (ra.cid <> sa.cid) AS moved
    FROM e JOIN ra USING (vec_id) JOIN sa USING (vec_id), q
    WHERE ra.cid IN (SELECT cid FROM probes)
      AND e.vec_id <> {QUERY_VEC_ID}
    ORDER BY cosine DESC, e.vec_id
    LIMIT {TOP_K}
    """
    )


@register("sim_ivf_retrain", _duck_ivf_retrain(), lifecycle=True)
def sim_ivf_retrain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The retrain EXECUTION — the capstone of the index lifecycle
    (build -> upsert -> drift trigger -> THIS -> serve): run
    :func:`retrain_ivf_index` (one Lloyd refresh over the current
    corpus, full reassignment, versioned rebuild-and-swap with the old
    version readable until the pointer bump), then serve the standard
    top-{TOP_K} query from the LIVE (retrained) version. Each served
    row carries ``moved`` — whether the swap changed that vector's
    inverted list — tying the serve output to BOTH versions, so the
    hash check proves the query really reads v2 while v1 is still on
    disk.

    Scale: the retrain is one assignment-join scan + a k x 64
    partial-agg refresh + one reassignment scan — the same costs the
    drift trigger already pays, plus two table writes; serving stays
    nprobe-bounded. The swap is a 1-row pointer flip, so concurrent
    readers never block on the rebuild (FAISS/production vector-store
    shape).
    """
    v = retrain_ivf_index(spark, sf_dir)["live"]
    db = _rt_db(sf_dir)
    e = _emb(spark, sf_dir)
    qv = e.filter(F.col("vec_id") == QUERY_VEC_ID).select("emb").head()[0]
    q_lit = F.array(*[F.lit(float(x)) for x in qv])
    probes = (
        spark.table(f"{db}.centroids_v{v}")
        .withColumn("qv", q_lit)
        .select("cid", F.expr(_cosine_expr("cv", "qv")).alias("csim"))
        .orderBy(F.col("csim").desc(), "cid")
        .limit(IVF_NPROBE)
        .select("cid")
    )
    cand = spark.table(f"{db}.assign_v{v}").join(
        F.broadcast(probes), "cid", "left_semi"
    )
    served = (
        e.filter(F.col("vec_id") != QUERY_VEC_ID)
        .join(cand, "vec_id", "left_semi")
        .withColumn("qv", q_lit)
        .select(
            "vec_id",
            F.round(F.expr(_cosine_expr("emb", "qv")), 4).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), "vec_id")
        .limit(TOP_K)
    )
    old = spark.table(f"{db}.assign_v1").withColumnRenamed("cid", "cid_v1")
    new = spark.table(f"{db}.assign_v{v}").withColumnRenamed("cid", "cid_new")
    return (
        served.join(old, "vec_id")
        .join(new, "vec_id")
        .select(
            "vec_id",
            "cosine",
            (F.col("cid_new") != F.col("cid_v1")).alias("moved"),
        )
        .orderBy(F.col("cosine").desc(), "vec_id")
    )


def _duck_ivf_epoch2() -> str:
    """Oracle: the retrain oracle's chain continued one epoch — after
    (sa -> cr -> ra), a SECOND refresh grouped by ra (the promoted
    epoch-1 assignment) -> cr2 -> ra2, probes from cr2, serve via ra2,
    ``moved`` = the vector changed lists in the epoch-2 swap."""
    R = KMEANS_TRAIN_ROUNDS
    ctes = [
        "e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings)",
        f"eb AS (SELECT * FROM e WHERE vec_id % {IVF_UPSERT_MOD} <> 0)",
        f"""c0 AS (
      SELECT vec_id AS cid, emb AS cv FROM eb ORDER BY vec_id LIMIT {KMEANS_K}
    )""",
    ]
    for r in range(1, R + 1):
        ctes += [
            f"""p{r} AS (
      SELECT eb.vec_id,
             min(printf('%015.6f|%05d',
                        round(list_distance(eb.emb, c.cv), 6), c.cid)) AS p
      FROM eb, c{r - 1} c GROUP BY eb.vec_id
    )""",
            f"a{r} AS (SELECT vec_id, CAST(substr(p, 17, 5) AS INT) AS cid FROM p{r})",
            f"""dims{r} AS (
      SELECT a.cid, i, round(avg(eb.emb[i]), 4) + 0.0 AS m
      FROM a{r} a JOIN eb USING (vec_id), generate_series(1, 64) s(i)
      GROUP BY a.cid, i
    )""",
            f"c{r} AS (SELECT cid, list(m ORDER BY i) AS cv FROM dims{r} GROUP BY cid)",
        ]
    ctes += [
        f"""pall AS (
      SELECT e.vec_id,
             min(printf('%015.6f|%05d',
                        round(list_distance(e.emb, c.cv), 6), c.cid)) AS p
      FROM e, c{R} c GROUP BY e.vec_id
    )""",
        "sa AS (SELECT vec_id, CAST(substr(p, 17, 5) AS INT) AS cid FROM pall)",
        """rdims AS (
      SELECT a.cid, i, round(avg(e.emb[i]), 4) + 0.0 AS m
      FROM sa a JOIN e USING (vec_id), generate_series(1, 64) s(i)
      GROUP BY a.cid, i
    )""",
        "cr AS (SELECT cid, list(m ORDER BY i) AS cv FROM rdims GROUP BY cid)",
        """pr AS (
      SELECT e.vec_id,
             min(printf('%015.6f|%05d',
                        round(list_distance(e.emb, c.cv), 6), c.cid)) AS p
      FROM e, cr c GROUP BY e.vec_id
    )""",
        "ra AS (SELECT vec_id, CAST(substr(p, 17, 5) AS INT) AS cid FROM pr)",
        # EPOCH 2: refresh grouped by ra, then reassign
        """rdims2 AS (
      SELECT a.cid, i, round(avg(e.emb[i]), 4) + 0.0 AS m
      FROM ra a JOIN e USING (vec_id), generate_series(1, 64) s(i)
      GROUP BY a.cid, i
    )""",
        "cr2 AS (SELECT cid, list(m ORDER BY i) AS cv FROM rdims2 GROUP BY cid)",
        """pr2 AS (
      SELECT e.vec_id,
             min(printf('%015.6f|%05d',
                        round(list_distance(e.emb, c.cv), 6), c.cid)) AS p
      FROM e, cr2 c GROUP BY e.vec_id
    )""",
        "ra2 AS (SELECT vec_id, CAST(substr(p, 17, 5) AS INT) AS cid FROM pr2)",
        f"q AS (SELECT emb AS qv FROM e WHERE vec_id = {QUERY_VEC_ID})",
        f"""probes AS (
      SELECT c.cid FROM cr2 c, q
      ORDER BY (list_dot_product(c.cv, q.qv) /
                nullif(sqrt(list_dot_product(c.cv, c.cv))
                       * sqrt(list_dot_product(q.qv, q.qv)), 0)) DESC, c.cid
      LIMIT {IVF_NPROBE}
    )""",
    ]
    return (
        "WITH " + ",\n    ".join(ctes) + f"""
    SELECT e.vec_id,
           round((list_dot_product(e.emb, q.qv) /
                  nullif(sqrt(list_dot_product(e.emb, e.emb))
                         * sqrt(list_dot_product(q.qv, q.qv)), 0)), 4) AS cosine,
           (ra2.cid <> ra.cid) AS moved
    FROM e JOIN ra2 USING (vec_id) JOIN ra USING (vec_id), q
    WHERE ra2.cid IN (SELECT cid FROM probes)
      AND e.vec_id <> {QUERY_VEC_ID}
    ORDER BY cosine DESC, e.vec_id
    LIMIT {TOP_K}
    """
    )


@register("sim_ivf_retrain_epoch2", _duck_ivf_epoch2(), lifecycle=True)
def sim_ivf_retrain_epoch2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO full lifecycle turns of the versioned index — retrain, GC
    (promote + epoch advance), retrain again — then serve from the
    epoch-2 version. This is the row that makes :func:`gc_ivf_versions`
    driver-checkable: the oracle unrolls BOTH refreshes (the second
    grouped by the first's reassignment — exactly what the promotion
    hands the next epoch), so a GC that promoted the wrong version,
    leaked a stale v2, or mis-reset the pointer hash-mismatches here.

    Dedicated ``_e2`` database, CLEARED at query start: each lifecycle
    turn intentionally advances state, so replay determinism comes from
    restarting the epoch clock — production never resets, it just keeps
    turning. The shared ``_up`` artifact is reused across runs, so the
    per-run cost is the two refresh+reassign passes plus the serves,
    not the Lloyd training.

    Scale: two of the drift trigger's one-refresh passes (each one
    assignment-join scan + a k x 64 partial agg + a reassignment scan)
    plus pointer flips; serving stays nprobe-bounded. The epoch cycle
    is the rolling-retrain cadence a production vector store runs
    nightly — trigger (drift stats), execute (retrain), promote (GC),
    repeat.
    """
    from ..catalog import catalog_lock

    from .index_store import _ensure_db, clear_tables

    db = _rt_db(sf_dir) + "_e2"
    with catalog_lock:
        _ensure_db(spark, db)
        clear_tables(
            spark, db, _RT_V1_TABLES + _RT_V2_TABLES
        )
    retrain_ivf_index(spark, sf_dir, db=db)
    gc = gc_ivf_versions(spark, sf_dir, db=db)
    assert gc["gc"] == "promoted", gc
    v = retrain_ivf_index(spark, sf_dir, db=db)["live"]
    e = _emb(spark, sf_dir)
    qv = e.filter(F.col("vec_id") == QUERY_VEC_ID).select("emb").head()[0]
    q_lit = F.array(*[F.lit(float(x)) for x in qv])
    probes = (
        spark.table(f"{db}.centroids_v{v}")
        .withColumn("qv", q_lit)
        .select("cid", F.expr(_cosine_expr("cv", "qv")).alias("csim"))
        .orderBy(F.col("csim").desc(), "cid")
        .limit(IVF_NPROBE)
        .select("cid")
    )
    cand = spark.table(f"{db}.assign_v{v}").join(
        F.broadcast(probes), "cid", "left_semi"
    )
    served = (
        e.filter(F.col("vec_id") != QUERY_VEC_ID)
        .join(cand, "vec_id", "left_semi")
        .withColumn("qv", q_lit)
        .select(
            "vec_id",
            F.round(F.expr(_cosine_expr("emb", "qv")), 4).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), "vec_id")
        .limit(TOP_K)
    )
    old = spark.table(f"{db}.assign_v1").withColumnRenamed("cid", "cid_v1")
    new = spark.table(f"{db}.assign_v{v}").withColumnRenamed("cid", "cid_new")
    return (
        served.join(old, "vec_id")
        .join(new, "vec_id")
        .select(
            "vec_id",
            "cosine",
            (F.col("cid_new") != F.col("cid_v1")).alias("moved"),
        )
        .orderBy(F.col("cosine").desc(), "vec_id")
    )


# -- retrain POLICY: drift stats decide whether to execute the retrain -------

RETRAIN_POLICY_SKIP_THR = 2.0  # unreachable: pins the no-op branch
RETRAIN_POLICY_GO_THR = 0.0  # always met: pins the retrain branch


def _ivf_global_churn(spark: SparkSession, sf_dir: str) -> float:
    """The retrain policy's decision input: the corpus-global churn
    fraction from the drift dashboard (one refresh + reassignment —
    the same scan + k x 64 agg the dashboard pays). Shared so a policy
    sweep over several thresholds measures ONCE."""
    stats = sim_ivf_drift_stats(spark, sf_dir)
    tot = stats.agg(
        F.sum("n_vecs").alias("n"), F.sum("n_churned").alias("c")
    ).head()
    return float(tot["c"] or 0) / max(int(tot["n"] or 0), 1)


def maybe_retrain_ivf(
    spark: SparkSession,
    sf_dir: str,
    db: str | None = None,
    threshold: float = DRIFT_RETRAIN_THRESHOLD,
    churn_frac: float | None = None,
) -> dict:
    """POLICY gate closing the trigger->execute loop (VERDICT r9 #5) —
    the vector-side analogue of the dedup side's LSM trigger
    (:func:`index_store.maybe_fold_delta`): measure the GLOBAL churn
    fraction the drift dashboard reports (what fraction of the corpus
    would change inverted lists under one Lloyd refresh over the
    current corpus) and EXECUTE :func:`retrain_ivf_index` only when it
    reaches ``threshold``; below it the current live version keeps
    serving untouched. Decision input and execution share the same
    refresh math, so trigger and retrain can run in one maintenance
    window — at 100 TB the no-op branch costs exactly the dashboard's
    one corpus scan + k x 64 partial agg, and the retrain branch adds
    one reassignment scan + two table writes + a pointer flip.

    Returns ``{"decision": "retrain"|"skip", "churn_frac": float,
    "live": int}``. ``churn_frac`` accepts a pre-measured decision
    input (:func:`_ivf_global_churn`) so a sweep over several
    thresholds — the registered policy query's shape — pays the drift
    measurement once, not per call.
    """
    db = db or _rt_db(sf_dir)
    _rt_ensure_v1(spark, sf_dir, db)  # skip branch still needs a live v1
    churn = (
        churn_frac
        if churn_frac is not None
        else _ivf_global_churn(spark, sf_dir)
    )
    if churn >= threshold:
        out = retrain_ivf_index(spark, sf_dir, db=db)
        return {"decision": "retrain", "churn_frac": churn, "live": out["live"]}
    return {
        "decision": "skip",
        "churn_frac": churn,
        "live": _rt_live_version(spark, db),
    }


def _duck_retrain_policy() -> str:
    """Oracle: the retrain chain's global churn fraction (``sa`` vs
    ``ra``) drives BOTH branch decisions, the skip branch serves from
    the frozen v1 index (probes from c{{R}}, membership via sa), the
    retrain branch from the refreshed one (probes from cr, membership
    via ra, ``moved`` = list change) — the engine's two policy calls
    stated as one UNION."""
    R = KMEANS_TRAIN_ROUNDS
    cos = (
        "(list_dot_product({a}, q.qv) /"
        " nullif(sqrt(list_dot_product({a}, {a}))"
        " * sqrt(list_dot_product(q.qv, q.qv)), 0))"
    )
    ctes = _duck_rt_chain_ctes() + [
        """churn AS (
      SELECT round(CAST(SUM(CASE WHEN ra.cid <> sa.cid THEN 1 ELSE 0 END)
                        AS DOUBLE) / COUNT(*), 4) AS cfr,
             CAST(SUM(CASE WHEN ra.cid <> sa.cid THEN 1 ELSE 0 END)
                  AS DOUBLE) / COUNT(*) AS cf
      FROM ra JOIN sa USING (vec_id)
    )""",
        f"""probes_v1 AS (
      SELECT c.cid FROM c{R} c, q
      ORDER BY {cos.format(a='c.cv')} DESC, c.cid LIMIT {IVF_NPROBE}
    )""",
        f"""probes_v2 AS (
      SELECT c.cid FROM cr c, q
      ORDER BY {cos.format(a='c.cv')} DESC, c.cid LIMIT {IVF_NPROBE}
    )""",
        f"""skip_serve AS (
      SELECT e.vec_id, round({cos.format(a='e.emb')}, 4) AS cosine
      FROM e JOIN sa USING (vec_id), q
      WHERE sa.cid IN (SELECT cid FROM probes_v1)
        AND e.vec_id <> {QUERY_VEC_ID}
      ORDER BY cosine DESC, e.vec_id LIMIT {TOP_K}
    )""",
        f"""go_serve AS (
      SELECT e.vec_id, round({cos.format(a='e.emb')}, 4) AS cosine,
             (ra.cid <> sa.cid) AS moved
      FROM e JOIN ra USING (vec_id) JOIN sa USING (vec_id), q
      WHERE ra.cid IN (SELECT cid FROM probes_v2)
        AND e.vec_id <> {QUERY_VEC_ID}
      ORDER BY cosine DESC, e.vec_id LIMIT {TOP_K}
    )""",
    ]
    return (
        "WITH " + ",\n    ".join(ctes) + f"""
    SELECT 'skip' AS branch, {RETRAIN_POLICY_SKIP_THR} AS thr,
           churn.cfr AS churn_frac,
           (churn.cf >= {RETRAIN_POLICY_SKIP_THR}) AS retrained,
           vec_id, cosine, FALSE AS moved
    FROM skip_serve, churn
    UNION ALL
    SELECT 'retrain' AS branch, {RETRAIN_POLICY_GO_THR} AS thr,
           churn.cfr AS churn_frac,
           (churn.cf >= {RETRAIN_POLICY_GO_THR}) AS retrained,
           vec_id, cosine, moved
    FROM go_serve, churn
    ORDER BY branch, cosine DESC, vec_id
    """
    )


@register("sim_ivf_retrain_policy", _duck_retrain_policy(), lifecycle=True)
def sim_ivf_retrain_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BOTH branches of the retrain policy gate, driver-checkable
    (VERDICT r9 #5): run :func:`maybe_retrain_ivf` twice against
    dedicated versioned databases — once with an unreachable threshold
    (the measured churn stays below it: NO retrain, the frozen v1 index
    keeps serving, every ``moved`` false) and once with a zero
    threshold (the churn meets it: the retrain EXECUTES and the serve
    comes from the refreshed v2 index) — then serve the standard
    top-{TOP_K} query from each database's LIVE version. Emits
    (branch, thr, churn_frac, retrained, vec_id, cosine, moved); the
    oracle recomputes the decision INPUT (global churn) from the same
    refresh chain, so a policy that misreads its own dashboard
    hash-mismatches.

    Thresholds are sentinels (2.0 / 0.0) so both branches replay
    deterministically at every scale factor; production calls
    ``maybe_retrain_ivf`` with the default
    {DRIFT_RETRAIN_THRESHOLD:.0%} churn threshold in the maintenance
    window. Scale: the skip branch costs the drift measurement alone;
    the retrain branch adds the rebuild-and-swap (see
    :func:`retrain_ivf_index`); both serves stay nprobe-bounded.
    """
    e = _emb(spark, sf_dir)
    qv = e.filter(F.col("vec_id") == QUERY_VEC_ID).select("emb").head()[0]
    q_lit = F.array(*[F.lit(float(x)) for x in qv])
    branches = (
        ("skip", RETRAIN_POLICY_SKIP_THR, "_ps"),
        ("retrain", RETRAIN_POLICY_GO_THR, "_pg"),
    )
    churn = _ivf_global_churn(spark, sf_dir)  # measured ONCE for the sweep
    out = None
    for branch, thr, suffix in branches:
        db = _ivf_index_db(sf_dir) + suffix
        dec = maybe_retrain_ivf(
            spark, sf_dir, db=db, threshold=thr, churn_frac=churn
        )
        assert (dec["decision"] == "retrain") == (branch == "retrain")
        v = dec["live"]
        probes = (
            spark.table(f"{db}.centroids_v{v}")
            .withColumn("qv", q_lit)
            .select("cid", F.expr(_cosine_expr("cv", "qv")).alias("csim"))
            .orderBy(F.col("csim").desc(), "cid")
            .limit(IVF_NPROBE)
            .select("cid")
        )
        cand = spark.table(f"{db}.assign_v{v}").join(
            F.broadcast(probes), "cid", "left_semi"
        )
        served = (
            e.filter(F.col("vec_id") != QUERY_VEC_ID)
            .join(cand, "vec_id", "left_semi")
            .withColumn("qv", q_lit)
            .select(
                "vec_id",
                F.round(F.expr(_cosine_expr("emb", "qv")), 4).alias("cosine"),
            )
            .orderBy(F.col("cosine").desc(), "vec_id")
            .limit(TOP_K)
        )
        if v > 1:
            old = spark.table(f"{db}.assign_v1").withColumnRenamed(
                "cid", "cid_v1"
            )
            new = spark.table(f"{db}.assign_v{v}").withColumnRenamed(
                "cid", "cid_new"
            )
            served = (
                served.join(old, "vec_id")
                .join(new, "vec_id")
                .withColumn(
                    "moved", F.col("cid_new") != F.col("cid_v1")
                )
                .drop("cid_v1", "cid_new")
            )
        else:
            served = served.withColumn("moved", F.lit(False))
        labeled = served.select(
            F.lit(branch).alias("branch"),
            F.lit(float(thr)).alias("thr"),
            F.round(F.lit(dec["churn_frac"]), 4).alias("churn_frac"),
            F.lit(dec["decision"] == "retrain").alias("retrained"),
            "vec_id",
            "cosine",
            "moved",
        )
        out = labeled if out is None else out.unionByName(labeled)
    return out.orderBy("branch", F.col("cosine").desc(), "vec_id")


# -- ANN serving-quality metrics: recall / MRR / nDCG vs brute force ---------

_EVAL_VARIANTS = (
    # (variant tag, registered query, rank key SQL/asc flag)
    ("ivf", "sim_ivf_topk", False),
    ("hamming", "sim_hamming_topk", False),
    ("ivfpq", "sim_ivfpq_adc", True),
)


def _duck_ann_eval() -> str:
    """Oracle composed from the REGISTERED variant oracles (the funnel
    pattern — the metrics can never drift from the lists they grade):
    brute top-{TOP_K} = the binary-relevance ground truth; per variant,
    rank its output by its own serving key and compute recall / MRR /
    nDCG with DCG terms quantized to integer micro-units so the sums
    are order-free."""
    from ..queries import ORACLES

    brute = ORACLES["sim_topk_brute"]
    parts = []
    for tag, qname, adc_asc in _EVAL_VARIANTS:
        key = (
            "v.adc_d2_micro ASC, v.vec_id"
            if adc_asc
            else "v.cosine DESC, v.vec_id"
        )
        parts.append(f"""(
      WITH vr AS (
        SELECT v.vec_id,
               row_number() OVER (ORDER BY {key}) AS rank,
               (b.vec_id IS NOT NULL) AS rel
        FROM ({ORACLES[qname]}) v
        LEFT JOIN bt b ON b.vec_id = v.vec_id
      )
      SELECT '{tag}' AS variant,
             (SELECT count(*) FROM bt) AS n_rel,
             round(CAST(sum(CASE WHEN rel THEN 1 ELSE 0 END) AS DOUBLE)
                   / (SELECT count(*) FROM bt), 4) AS recall_at_k,
             round(coalesce(1.0 / min(CASE WHEN rel THEN rank END), 0), 4)
               AS mrr,
             round(CAST(sum(CASE WHEN rel THEN
                         CAST(round(1000000 / log2(rank + 1)) AS BIGINT)
                       ELSE 0 END) AS DOUBLE)
                   / (SELECT sum(CAST(round(1000000 / log2(rank + 1))
                                      AS BIGINT))
                      FROM (SELECT row_number() OVER (ORDER BY vec_id)
                                     AS rank FROM bt)), 4) AS ndcg_at_k
      FROM vr
    )""")
    return (
        f"WITH bt AS (SELECT vec_id FROM ({brute}))\n"
        + " UNION ALL ".join(parts)
    )


@register("sim_ann_eval_metrics", _duck_ann_eval())
def sim_ann_eval_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SERVING-QUALITY DASHBOARD: recall@{TOP_K}, MRR, and
    nDCG@{TOP_K} of each ANN variant (IVF single-list probe, 1-bit
    Hamming shortlist+rerank, IVF-PQ ADC) against the brute-force exact
    top-{TOP_K} as binary relevance — the row an operator reads before
    turning a serving dial (nprobe, shortlist width, PQ bits), and the
    formalization of tests/test_recall.py's floors as a driver-checked
    query. Each variant is ranked by its OWN serving key (cosine for
    the cosine servers, the ADC distance for PQ); DCG terms are
    quantized to integer micro-units so the sums are order-free and the
    oracle is engine-exact; IDCG is the ground-truth list's own DCG.

    Oracles compose by construction: the grading SQL embeds the four
    registered variant oracles as subqueries, so the metrics can never
    drift from the lists they grade (the funnel pattern).

    Scale: the variant lists are k-row TakeOrdered results; grading is
    a k-row join + 1-row aggregate per variant — the whole dashboard
    costs one extra stage over the serves it measures.
    """
    from pyspark.sql import Window as W

    brute = (
        sim_topk_brute(spark, sf_dir)
        .select("vec_id")
        .localCheckpoint(eager=True)
    )
    n_rel = brute.count()
    idcg_micro = sum(
        int(round(1_000_000 / math.log2(i + 1)))
        for i in range(1, n_rel + 1)
    )
    out = None
    for tag, qname, adc_asc in _EVAL_VARIANTS:
        from ..queries import QUERIES

        lst = QUERIES[qname](spark, sf_dir)
        key = (
            [F.col("adc_d2_micro").asc(), F.col("vec_id")]
            if adc_asc
            else [F.col("cosine").desc(), F.col("vec_id")]
        )
        ranked = lst.withColumn(
            "rank", F.row_number().over(W.orderBy(*key))
        ).join(
            F.broadcast(brute.withColumn("rel", F.lit(True))),
            "vec_id",
            "left",
        )
        dcg_term = F.when(
            F.col("rel"),
            F.round(F.lit(1_000_000) / F.log2(F.col("rank") + 1)).cast(
                "bigint"
            ),
        ).otherwise(F.lit(0))
        m = ranked.agg(
            F.lit(tag).alias("variant"),
            F.lit(n_rel).cast("bigint").alias("n_rel"),
            F.round(
                F.sum(F.when(F.col("rel"), 1).otherwise(0)).cast("double")
                / F.lit(n_rel),
                4,
            ).alias("recall_at_k"),
            F.round(
                F.coalesce(
                    F.lit(1.0)
                    / F.min(F.when(F.col("rel"), F.col("rank"))),
                    F.lit(0.0),
                ),
                4,
            ).alias("mrr"),
            F.round(
                F.sum(dcg_term).cast("double") / F.lit(idcg_micro), 4
            ).alias("ndcg_at_k"),
        )
        out = m if out is None else out.unionByName(m)
    return out


# -- ANN AUTOTUNE: pick the cheapest serving dial meeting a recall floor -----

ANN_TUNE_IVF_GRID = (1, 2, 3)  # nprobe sweep for the label-IVF server
ANN_TUNE_HAM_GRID = (10, 25, 50)  # Hamming shortlist-width sweep
# recall floor 3/5 = 0.6, kept as an integer ratio so the qualification
# test (n_hits * DEN >= NUM * n_rel) is engine-exact on both engines
ANN_TUNE_FLOOR_NUM, ANN_TUNE_FLOOR_DEN = 3, 5


def _duck_ann_autotune() -> str:
    """Oracle: re-derive every (variant, dial) cell — IVF candidates
    from the top-``dial`` centroid lists, Hamming shortlists of width
    ``dial`` — score each serve against the brute ground truth, then
    re-run the SELECTION rule as a window: qualified rows (recall >=
    3/5) rank by est_cost, unqualified fall back to max recall; the
    winner per variant is ``chosen``."""
    from ..queries import ORACLES

    ctes = [
        f"bt AS (SELECT vec_id FROM ({ORACLES['sim_topk_brute']}))",
        "e AS (SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings)",
        f"q AS (SELECT emb AS qv FROM e WHERE vec_id = {QUERY_VEC_ID})",
        """cent AS (
      SELECT label, pos, round(avg(v), 6) AS av FROM (
        SELECT label, generate_subscripts(emb, 1) AS pos, unnest(emb) AS v
        FROM e
      ) GROUP BY label, pos
    )""",
        "carr AS (SELECT label, list(av ORDER BY pos) AS cvec FROM cent GROUP BY label)",
        """lrank AS (
      SELECT carr.label,
             row_number() OVER (
               ORDER BY (list_dot_product(carr.cvec, q.qv) /
                         nullif(sqrt(list_dot_product(carr.cvec, carr.cvec))
                                * sqrt(list_dot_product(q.qv, q.qv)), 0))
                 DESC NULLS LAST, carr.label) AS lr
      FROM carr, q
    )""",
        f"""hall AS (
      SELECT e.vec_id,
             CAST(len(list_filter(range(1, len(e.emb) + 1),
                 i -> (e.emb[i] > 0) <> (q.qv[i] > 0))) AS BIGINT)
               AS hamming,
             round((list_dot_product(e.emb, q.qv) /
                    nullif(sqrt(list_dot_product(e.emb, e.emb))
                           * sqrt(list_dot_product(q.qv, q.qv)), 0)), 4)
               AS cosine
      FROM e, q WHERE e.vec_id <> {QUERY_VEC_ID}
    )""",
    ]
    parts = []
    for p in ANN_TUNE_IVF_GRID:
        ctes.append(f"""ivfc{p} AS (
      SELECT e.vec_id,
             round((list_dot_product(e.emb, q.qv) /
                    nullif(sqrt(list_dot_product(e.emb, e.emb))
                           * sqrt(list_dot_product(q.qv, q.qv)), 0)), 4)
               AS cosine
      FROM e JOIN lrank USING (label), q
      WHERE lrank.lr <= {p} AND e.vec_id <> {QUERY_VEC_ID}
    )""")
        parts.append(f"""(
      SELECT 'ivf' AS variant, {p} AS dial,
             (SELECT count(*) FROM ivfc{p}) AS est_cost,
             (SELECT count(*) FROM (
                SELECT vec_id FROM ivfc{p}
                ORDER BY cosine DESC NULLS LAST, vec_id LIMIT {TOP_K}
              ) s JOIN bt USING (vec_id)) AS n_hits
    )""")
    for w in ANN_TUNE_HAM_GRID:
        ctes.append(
            f"short{w} AS (SELECT * FROM hall ORDER BY hamming, vec_id LIMIT {w})"
        )
        parts.append(f"""(
      SELECT 'hamming' AS variant, {w} AS dial,
             (SELECT count(*) FROM short{w}) AS est_cost,
             (SELECT count(*) FROM (
                SELECT vec_id FROM short{w}
                ORDER BY cosine DESC NULLS LAST, vec_id LIMIT {TOP_K}
              ) s JOIN bt USING (vec_id)) AS n_hits
    )""")
    ctes.append("scored AS (" + " UNION ALL ".join(parts) + ")")
    qual = (
        f"n_hits * {ANN_TUNE_FLOOR_DEN} >= "
        f"{ANN_TUNE_FLOOR_NUM} * (SELECT count(*) FROM bt)"
    )
    return (
        "WITH " + ",\n    ".join(ctes) + f"""
    SELECT variant, CAST(dial AS INT) AS dial, n_hits,
           round(coalesce(CAST(n_hits AS DOUBLE)
                          / nullif((SELECT count(*) FROM bt), 0), 0), 4)
             AS recall_at_k,
           est_cost,
           (row_number() OVER (
              PARTITION BY variant
              ORDER BY CASE WHEN {qual} THEN 0 ELSE 1 END,
                       CASE WHEN {qual} THEN est_cost ELSE -n_hits END,
                       est_cost, dial) = 1) AS chosen
    FROM scored
    ORDER BY variant, dial
    """
    )


@register("sim_ann_autotune", _duck_ann_autotune())
def sim_ann_autotune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CLOSE THE DASHBOARD LOOP (VERDICT r9 #4): sweep each ANN
    variant's serving dial over a small grid — nprobe
    {ANN_TUNE_IVF_GRID} for the label-IVF server, shortlist width
    {ANN_TUNE_HAM_GRID} for the 1-bit Hamming server — measure
    recall@{TOP_K} against the brute ground truth at each setting,
    estimate the serving cost (candidate vectors actually scanned by
    stage 2), and CHOOSE the cheapest setting meeting the
    {ANN_TUNE_FLOOR_NUM}/{ANN_TUNE_FLOOR_DEN} recall floor (fallback:
    the highest-recall setting when nothing qualifies — small hostile
    corpora). Emits one row per (variant, dial) with ``chosen``
    marking each variant's winner — the sweep a production ANN
    operator runs after every retrain/compaction before updating its
    serving config.

    The qualification test stays in integers (n_hits * den >= num *
    n_rel) so the floor comparison is engine-exact; the selection rule
    is a deterministic rank (qualified-by-cost, else by-recall, cost
    then dial tie-breaks) stated identically as a window in the
    oracle.

    Scale: the grid serves share one centroid ranking and one Hamming
    code scan; each cell costs one bounded candidate scan + a
    {TOP_K}-row join against the broadcast ground truth. Driver
    traffic is (|grid| x 2) 1-row aggregates — the decision itself is
    k-bounded by construction.
    """
    e = _emb(spark, sf_dir)
    brute = (
        sim_topk_brute(spark, sf_dir)
        .select("vec_id")
        .localCheckpoint(eager=True)
    )
    n_rel = brute.count()
    qv = e.filter(F.col("vec_id") == QUERY_VEC_ID).select("emb").head()[0]
    q_lit = F.array(*[F.lit(float(x)) for x in qv])

    def _grade(cand: DataFrame) -> tuple[int, int]:
        """(est_cost, n_hits) for one dial's candidate set: stage-2
        cost = candidates scanned; hits = |serve intersect truth|."""
        cost = cand.count()
        serve = (
            cand.orderBy(F.col("cosine").desc_nulls_last(), "vec_id")
            .limit(TOP_K)
            .join(F.broadcast(brute), "vec_id", "left_semi")
        )
        return cost, serve.count()

    # one centroid ranking shared by every nprobe cell (k-row collect)
    pe = e.select("label", F.posexplode("emb").alias("pos", "v"))
    cent = pe.groupBy("label", "pos").agg(F.round(F.avg("v"), 6).alias("av"))
    carr = (
        cent.groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "av"))).alias("pa"))
        .select("label", F.expr("transform(pa, x -> x.av)").alias("cvec"))
    )
    ranked_labels = [
        r["label"]
        for r in carr.withColumn("qv", q_lit)
        .select("label", F.expr(_cosine_expr("cvec", "qv")).alias("csim"))
        .orderBy(F.col("csim").desc_nulls_last(), "label")
        .limit(max(ANN_TUNE_IVF_GRID))
        .collect()
    ]
    cells: list[tuple[str, int, int, int]] = []
    scored_base = e.filter(F.col("vec_id") != QUERY_VEC_ID).withColumn(
        "qv", q_lit
    )
    for p in ANN_TUNE_IVF_GRID:
        cand = scored_base.filter(
            F.col("label").isin(ranked_labels[:p])
        ).select(
            "vec_id",
            F.round(F.expr(_cosine_expr("emb", "qv")), 4).alias("cosine"),
        )
        cost, hits = _grade(cand)
        cells.append(("ivf", p, cost, hits))
    hall = scored_base.select(
        "vec_id",
        F.expr(
            "size(filter(zip_with(emb, qv, "
            "(x, y) -> (x > 0) != (y > 0)), b -> b))"
        ).cast("bigint").alias("hamming"),
        F.round(F.expr(_cosine_expr("emb", "qv")), 4).alias("cosine"),
    )
    for w in ANN_TUNE_HAM_GRID:
        short = hall.orderBy("hamming", "vec_id").limit(w)
        cost, hits = _grade(short.select("vec_id", "cosine"))
        cells.append(("hamming", w, cost, hits))
    # the selection rule on plain integers (same rank as the oracle's
    # window): qualified rows by cost, unqualified by recall, then
    # cost/dial tie-breaks
    chosen: dict[str, tuple[int, ...]] = {}
    for variant in ("ivf", "hamming"):
        rows = [c for c in cells if c[0] == variant]
        rows.sort(
            key=lambda c: (
                0 if c[3] * ANN_TUNE_FLOOR_DEN >= ANN_TUNE_FLOOR_NUM * n_rel
                else 1,
                c[2]
                if c[3] * ANN_TUNE_FLOOR_DEN >= ANN_TUNE_FLOOR_NUM * n_rel
                else -c[3],
                c[2],
                c[1],
            )
        )
        chosen[variant] = rows[0]
    out = local_rows_df(spark, 
        [
            (v, d, hits, cost, chosen[v][1] == d)
            for v, d, cost, hits in cells
        ],
        "variant string, dial int, n_hits bigint, est_cost bigint, "
        "chosen boolean",
    )
    return out.select(
        "variant",
        "dial",
        "n_hits",
        F.round(
            F.when(
                F.lit(n_rel) > 0, F.col("n_hits").cast("double") / F.lit(n_rel)
            ).otherwise(F.lit(0.0)),
            4,
        ).alias("recall_at_k"),
        "est_cost",
        "chosen",
    ).orderBy("variant", "dial")


# -- STREAMING IVF admission: micro-batch upserts, served between batches ----

IVF_STREAM_MOD = 10  # arrivals (vec_id % 5 == 0) split into two batches:
IVF_STREAM_B1 = 0    # vec_id % 10 == 0 -> first arrival file
IVF_STREAM_B2 = 5    # vec_id % 10 == 5 -> second arrival file


def _duck_stream_ivf() -> str:
    """Oracle: the frozen-centroid chain (train on the owned split,
    assign everything), then TWO serving replays — after batch 1 the
    candidate universe is owned + first-file arrivals; after batch 2 it
    is owned + all arrivals — tagged with the micro-batch id."""
    R = KMEANS_TRAIN_ROUNDS
    ctes = [
        "e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings)",
        f"eb AS (SELECT * FROM e WHERE vec_id % {IVF_UPSERT_MOD} <> 0)",
        f"""c0 AS (
      SELECT vec_id AS cid, emb AS cv FROM eb ORDER BY vec_id LIMIT {KMEANS_K}
    )""",
    ]
    for r in range(1, R + 1):
        ctes += [
            f"""p{r} AS (
      SELECT eb.vec_id,
             min(printf('%015.6f|%05d',
                        round(list_distance(eb.emb, c.cv), 6), c.cid)) AS p
      FROM eb, c{r - 1} c GROUP BY eb.vec_id
    )""",
            f"a{r} AS (SELECT vec_id, CAST(substr(p, 17, 5) AS INT) AS cid FROM p{r})",
            f"""dims{r} AS (
      SELECT a.cid, i, round(avg(eb.emb[i]), 4) + 0.0 AS m
      FROM a{r} a JOIN eb USING (vec_id), generate_series(1, 64) s(i)
      GROUP BY a.cid, i
    )""",
            f"c{r} AS (SELECT cid, list(m ORDER BY i) AS cv FROM dims{r} GROUP BY cid)",
        ]
    ctes += [
        f"""pall AS (
      SELECT e.vec_id,
             min(printf('%015.6f|%05d',
                        round(list_distance(e.emb, c.cv), 6), c.cid)) AS p
      FROM e, c{R} c GROUP BY e.vec_id
    )""",
        "au AS (SELECT vec_id, CAST(substr(p, 17, 5) AS INT) AS cid FROM pall)",
        f"q AS (SELECT emb AS qv FROM e WHERE vec_id = {QUERY_VEC_ID})",
        f"""probes AS (
      SELECT c.cid FROM c{R} c, q
      ORDER BY (list_dot_product(c.cv, q.qv) /
                nullif(sqrt(list_dot_product(c.cv, c.cv))
                       * sqrt(list_dot_product(q.qv, q.qv)), 0)) DESC, c.cid
      LIMIT {IVF_NPROBE}
    )""",
    ]
    serve = """(
      SELECT {bid} AS batch_id, e.vec_id,
             round((list_dot_product(e.emb, q.qv) /
                    nullif(sqrt(list_dot_product(e.emb, e.emb))
                           * sqrt(list_dot_product(q.qv, q.qv)), 0)), 4)
               AS cosine
      FROM e JOIN au USING (vec_id), q
      WHERE au.cid IN (SELECT cid FROM probes)
        AND e.vec_id <> {qid}
        AND ({universe})
      ORDER BY cosine DESC, e.vec_id
      LIMIT {k}
    )"""
    u1 = (
        f"e.vec_id % {IVF_UPSERT_MOD} <> 0 OR "
        f"e.vec_id % {IVF_STREAM_MOD} = {IVF_STREAM_B1}"
    )
    u2 = "TRUE"
    return (
        "WITH " + ",\n    ".join(ctes)
        + serve.format(bid=0, qid=QUERY_VEC_ID, universe=u1, k=TOP_K)
        + " UNION ALL "
        + serve.format(bid=1, qid=QUERY_VEC_ID, universe=u2, k=TOP_K)
    )


@register("stream_ivf_admission", _duck_stream_ivf(), lifecycle=True)
def stream_ivf_admission(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONTINUOUS vector ingestion through the IVF index — the
    embedding-side sibling of the two document streaming gates,
    completing the {exact, near-dup, IVF} x {batch, streaming, erasure}
    matrix: arriving vectors stream in as two micro-batch files; each
    batch is assigned against the FROZEN trained centroids
    (engine-exact argmin), appended to a per-run delta assignment
    overlay, and the standard top-{TOP_K} query is served IMMEDIATELY
    after the append over base+delta — proving each batch's vectors
    are findable before the next batch lands. Emits both batches'
    serve results tagged (batch_id, vec_id, cosine); a batch-1 arrival
    can appear in batch-0's serve only if... it can't — that ordering
    IS the oracle's statement (batch 0's candidate universe excludes
    the second file).

    Layering mirrors the document gates: the trained base (owned
    split) is built/adopted once under ``_svb`` via the shared
    bootstrap; per-run admissions land in a ``_svd`` delta scratch
    (emptied or created each invocation), so repeat runs are
    deterministic and the batch upsert query's ``_up`` artifact is
    never touched.

    Scale: per batch, one k-row centroid broadcast + a batch-sized
    assignment + a batch-sized append; serving is the standard
    nprobe-bounded probe over the layered assignment relation.
    Verdicts are sink-written, never collected.
    """
    from .index_store import read_live, reset_scratch

    base_db = _ivf_index_db(sf_dir) + "_svb"
    delta_db = _ivf_index_db(sf_dir) + "_svd"
    e = _emb(spark, sf_dir)
    # arriving vectors: vec_id % IVF_STREAM_MOD == IVF_STREAM_B1, then B2
    staged = stage_batches(
        spark, "emb_arrivals", sf_dir, "embeddings.parquet",
        [
            e.filter(F.col("vec_id") % IVF_STREAM_MOD == m).select("vec_id", "emb")
            for m in (IVF_STREAM_B1, IVF_STREAM_B2)
        ],
    )
    build_ivf_base_index(spark, sf_dir, db=base_db)
    reset_scratch(spark, delta_db, {"assign": "vec_id bigint, cid int"})

    cents = [
        (int(r["cid"]), [float(x) for x in r["cv"]])
        for r in spark.table(f"{base_db}.centroids").collect()
    ]
    qv = e.filter(F.col("vec_id") == QUERY_VEC_ID).select("emb").head()[0]
    q_lit = F.array(*[F.lit(float(x)) for x in qv])
    # deterministic fingerprint-keyed sink, cleared at run start: the
    # prior run's directory is reused in place instead of leaking one
    # uuid-named dir per invocation (ADVICE r8)
    out_dir = scratch_dir(
        "ivf_serve", sf_dir, ("embeddings.parquet",), fresh=True
    )

    def _on_batch(batch_df: DataFrame) -> DataFrame:
        wide = _kmeans_wide(batch_df.select("vec_id", "emb"))
        (
            _assign_enc(spark, wide, cents)
            .select(
                "vec_id", (F.col("enc") % 100000).cast("int").alias("cid")
            )
            .write.format("parquet")
            .mode("append")
            .saveAsTable(f"{delta_db}.assign")
        )
        spark.catalog.refreshTable(f"{delta_db}.assign")
        probes = (
            spark.table(f"{base_db}.centroids")
            .withColumn("qv", q_lit)
            .select("cid", F.expr(_cosine_expr("cv", "qv")).alias("csim"))
            .orderBy(F.col("csim").desc(), "cid")
            .limit(IVF_NPROBE)
            .select("cid")
        )
        (assign_all,) = read_live(
            spark, (base_db, delta_db), ("assign",), "vec_id"
        )
        cand = assign_all.join(F.broadcast(probes), "cid", "left_semi")
        return (
            e.filter(F.col("vec_id") != QUERY_VEC_ID)
            .join(cand, "vec_id", "left_semi")
            .withColumn("qv", q_lit)
            .select(
                "vec_id",
                F.round(F.expr(_cosine_expr("emb", "qv")), 4).alias("cosine"),
            )
            .orderBy(F.col("cosine").desc(), "vec_id")
            .limit(TOP_K)
        )

    return stream_batches(spark, staged, _on_batch, out_dir)
