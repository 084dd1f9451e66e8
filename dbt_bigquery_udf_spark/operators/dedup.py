"""Deduplication operators over ``documents`` / ``embeddings`` —
exact, MinHash+LSH near-dup, SimHash, n-gram Jaccard, embedding-cosine.

Engine-portability rule: every hash is md5 (bit-identical in Spark and
DuckDB), so each operator has an *exact* SQL oracle — no
recall-threshold hand-waving. Hot paths run inside whole-stage codegen
(explode + groupBy aggregates), never Python UDFs and never
per-row higher-order-function lambdas (those evaluate interpreted and
measured 10-60x slower with heavy variance — see SCALE.md).

100 TB scale design, per operator:

- exact: hash-groupBy on md5(text) — one shuffle of (hash, id), payload
  pruned by Catalyst.
- MinHash LSH: explode shingles -> one codegen'd aggregate building the
  16-hash signature AND the hashed-shingle set -> explode 4 band
  rows/doc -> fixed-width band self-join -> Jaccard verify on candidate
  ids only. Candidate count scales with true duplicate density, not
  |docs|^2. This is the standard shingle->minhash->band->bucket-join
  pipeline.
- SimHash: explode tokens -> 32 conditional-sum aggregates (map-side
  combined; shuffle carries 32 longs/doc); a Hamming-bucket join would
  follow the LSH shape above.
- n-gram Jaccard: restricted to an LSH-candidate pair set — the
  all-pairs variant exists only inside the DuckDB oracle at test scale.
- embedding cosine: per-label blocking + rounded-cosine ranking; the
  unblocked form is the similarity module's brute-force top-k.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..queries import register
from .util import local_rows_df
from ..sources.registry import register_sources
from .streams import Staged, scratch_dir, stage_batches, stream_batches
from .util import ensure_min_partitions

N_HASHES = 16
N_BANDS = 4
ROWS_PER_BAND = N_HASHES // N_BANDS
JACCARD_THRESHOLD = 0.8

# Universal-hash family for minhash: h_i(x) = (A[i]*x + B[i]) mod P over
# a 32-bit base hash x = first 8 hex digits of md5(shingle). One md5 per
# shingle total (not per hash function); A[i] < 2^20 keeps A*x < 2^52 —
# exact in BIGINT on both engines (and under ANSI overflow checks).
MINHASH_P = 4_294_967_311  # prime > 2^32
MINHASH_A = [
    563_573, 711_127, 817_351, 903_949, 131_071, 229_981, 350_411, 448_421,
    524_287, 600_011, 655_357, 700_001, 750_019, 800_011, 850_003, 900_001,
]
MINHASH_B = [
    98_491, 187_963, 276_857, 365_473, 454_379, 543_287, 632_189, 721_091,
    809_993, 898_891, 987_793, 76_695, 165_597, 254_499, 343_401, 432_303,
]

# Shared shingle expressions (word 3-grams over lowercased text), kept
# textually parallel between Spark SQL and the DuckDB oracle.
# get() (0-based, NULL past the end) + concat_ws's null-skipping mirrors
# the oracle's clamped slice for docs shorter than one shingle; a bare
# words[i+2] ANSI-crashes on 1-2 word docs (tests/test_property_diff.py).
_SPARK_SHINGLES = """
array_distinct(transform(
  sequence(0, greatest(size(words) - 3, 0)),
  i -> concat_ws(' ', get(words, i), get(words, i+1), get(words, i+2))
))
"""

_DUCK_SHINGLES = """
list_distinct([array_to_string(words[i:i+2], ' ')
               for i in generate_series(1, greatest(len(words) - 2, 1))])
"""


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return register_sources(spark, sf_dir, tables=("documents",))["documents"]


# -- exact dedup -----------------------------------------------------------


@register(
    "dedup_exact",
    """
    SELECT md5(text) AS content_hash, min(doc_id) AS canonical_doc_id,
           count(*) AS dup_count
    FROM documents
    GROUP BY md5(text)
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy keeping the min doc_id as canonical."""
    d = _docs(spark, sf_dir)
    return (
        d.groupBy(F.md5("text").alias("content_hash"))
        .agg(
            F.min("doc_id").alias("canonical_doc_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


# -- MinHash + LSH ---------------------------------------------------------


# Memo for the persisted shared stages (signature table, cluster
# assignment), keyed by (applicationId, sf_dir): without it every
# consumer call persisted a FRESH copy that stayed pinned for the JVM
# lifetime (dedup_minhash_pairs + _survivors + containment + the dedup
# funnel = four sigs copies in one bench pass). One shared entry per
# session+dataset; bench's clearCache() only drops blocks — the next
# action on the memoized frame transparently re-caches it.
_STAGE_MEMO: dict[tuple[str, str, str], object] = {}


def _memo_key(spark: SparkSession, sf_dir: str, stage: str):
    return (spark.sparkContext.applicationId, sf_dir, stage)


def _doc_signatures(docs: DataFrame) -> DataFrame:
    """Per-document minhash signatures + hashed-shingle set:
    (doc_id, h0..h{N_HASHES-1}, hs). ONE pass: explode shingles -> md5
    -> a single codegen'd groupBy producing the 16 minhash mins AND the
    sorted-distinct shingle-hash array (see _lsh_candidate_sets'
    docstring for why this beats 16 transform() passes)."""
    words = docs.select(
        "doc_id", F.split(F.lower(F.trim("text")), " ").alias("words")
    )
    tok = words.select("doc_id", F.explode(F.expr(_SPARK_SHINGLES)).alias("s"))
    xr = tok.select(
        "doc_id",
        F.expr("cast(conv(substr(md5(s), 1, 8), 16, 10) as bigint)").alias("x"),
    )
    return xr.groupBy("doc_id").agg(
        *[
            F.min((F.col("x") * MINHASH_A[i] + MINHASH_B[i]) % MINHASH_P).alias(f"h{i}")
            for i in range(N_HASHES)
        ],
        F.array_sort(F.collect_set("x")).alias("hs"),
    )


def _band_long(sigs: DataFrame) -> DataFrame:
    """Long (doc_id, band, key) banding of a signature frame; key = the
    band's ':'-joined minhash tuple — the LSH index's physical layout."""
    band_keys = [
        F.concat_ws(
            ":", *[F.col(f"h{b * ROWS_PER_BAND + r}") for r in range(ROWS_PER_BAND)]
        ).alias(f"b{b}")
        for b in range(N_BANDS)
    ]
    return (
        sigs.select("doc_id", *band_keys)
        .select(
            "doc_id",
            F.explode(
                F.array(
                    *[
                        F.struct(F.lit(b).alias("band"), F.col(f"b{b}").alias("key"))
                        for b in range(N_BANDS)
                    ]
                )
            ).alias("e"),
        )
        .select("doc_id", "e.band", "e.key")
    )


def _lsh_candidate_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidate pairs with their hashed-shingle sets:
    (doc_a, doc_b, ha, hb), doc_a < doc_b — the shared verify-stage
    input for Jaccard (dedup_minhash_*) and containment
    (dedup_containment) scoring.

    Shape chosen for 100 TB scale (and measured ~10x faster + stable
    vs the naive carry-arrays-through-the-join version at sf0.1):

    1. ONE pass builds everything per-doc: explode shingles -> md5 ->
       a single codegen'd groupBy producing the 16 minhash mins AND the
       hashed-shingle set. (16 higher-order transform() passes evaluate
       interpreted — outside whole-stage codegen — and showed 10-60x
       run-to-run variance; the exploded aggregate stays in codegen.)
    2. That one DataFrame is persisted and materialized ONCE (count())
       before any join — the self-join and verify joins otherwise race
       to fill the same cache blocks from parallel threads, each racing
       task recomputing the partition then blocking on the BlockManager
       write lock (measured 5-40x wall-time swings).
    3. The band self-join moves only (doc_id, band, key) rows — fixed
       width regardless of document length. Shingle data enters a join
       only at the verify stage, as compact sorted int arrays, and only
       for candidate docs.
    4. Jaccard is computed over md5-hashed shingles (32-bit ints), the
       standard at-scale trick; the oracle applies the identical
       transformation so the comparison stays exact.
    """
    key = _memo_key(spark, sf_dir, "lsh_cand")
    if key in _STAGE_MEMO:
        return _STAGE_MEMO[key]
    d = ensure_min_partitions(_docs(spark, sf_dir))
    sigs = _doc_signatures(d)
    sigs = sigs.persist()
    sigs.count()  # single linear cache fill; see docstring point 2

    long = _band_long(sigs)

    a, b = long.alias("a"), long.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )

    # Verify: fetch hashed-shingle sets for candidate docs only.
    x = sigs.select("doc_id", "hs").alias("x")
    y = sigs.select("doc_id", "hs").alias("y")
    out = (
        pairs.join(x, F.col("doc_a") == F.col("x.doc_id"))
        .join(y, F.col("doc_b") == F.col("y.doc_id"))
        .select("doc_a", "doc_b", F.col("x.hs").alias("ha"), F.col("y.hs").alias("hb"))
    )
    _STAGE_MEMO[key] = out
    return out


def _minhash_lsh_candidates(
    spark: SparkSession, sf_dir: str, threshold: float | None = JACCARD_THRESHOLD
) -> DataFrame:
    """Verified near-dup pairs via minhash banding: (doc_a, doc_b,
    jaccard), jaccard rounded to 4 decimals, filtered to >=
    ``threshold`` unless it is None."""
    cand = _lsh_candidate_sets(spark, sf_dir)
    inter = F.size(F.array_intersect("ha", "hb"))
    union = F.size("ha") + F.size("hb") - inter
    out = cand.select(
        "doc_a",
        "doc_b",
        F.round(inter.cast("double") / union, 4).alias("jaccard"),
    )
    if threshold is not None:
        out = out.filter(F.col("jaccard") >= threshold)
    return out


def _duck_minhash_prefix() -> str:
    """Shared oracle CTE chain through the banded ``long`` form (base,
    hx, sigs, banded, long) — the LSH index both the all-pairs oracle
    and the incremental new-vs-index oracle build on, defined once so
    they can never drift."""
    hashes = ", ".join(
        f"list_min([(x * {MINHASH_A[i]} + {MINHASH_B[i]}) % {MINHASH_P} for x in xs]) AS h{i}"
        for i in range(N_HASHES)
    )
    bands = ", ".join(
        "concat_ws(':', "
        + ", ".join(f"h{b * ROWS_PER_BAND + r}" for r in range(ROWS_PER_BAND))
        + f") AS b{b}"
        for b in range(N_BANDS)
    )
    band_rows = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, b{b} AS key FROM banded" for b in range(N_BANDS)
    )
    return f"""
    WITH base AS (
      SELECT doc_id, {_DUCK_SHINGLES} AS sh
      FROM (SELECT doc_id, string_split(lower(trim(text)), ' ') AS words FROM documents)
    ), hx AS (
      SELECT doc_id,
             [('0x' || substr(md5(s), 1, 8))::BIGINT for s in sh] AS xs,
             list_sort(list_distinct([('0x' || substr(md5(s), 1, 8))::BIGINT for s in sh])) AS hs
      FROM base
    ), sigs AS (
      SELECT doc_id, {hashes} FROM hx
    ), banded AS (
      SELECT *, {bands} FROM sigs
    ), long AS (
      {band_rows}
    )"""


def _duck_minhash_pairs() -> str:
    return _duck_minhash_prefix() + f""", cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM long a JOIN long b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
    ), verified AS (
      SELECT c.doc_a, c.doc_b,
             round(CAST(len(list_intersect(x.hs, y.hs)) AS DOUBLE) /
                   (len(x.hs) + len(y.hs) - len(list_intersect(x.hs, y.hs))), 4) AS jaccard
      FROM cand c JOIN hx x ON x.doc_id = c.doc_a JOIN hx y ON y.doc_id = c.doc_b
    )
    """


@register(
    "dedup_minhash_pairs",
    _duck_minhash_pairs()
    + f"SELECT doc_a, doc_b, jaccard FROM verified WHERE jaccard >= {JACCARD_THRESHOLD}",
)
def dedup_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-duplicate pairs, Jaccard-verified."""
    return _minhash_lsh_candidates(spark, sf_dir)


@register(
    "dedup_minhash_survivors",
    _duck_minhash_pairs()
    + f"""
    SELECT d.doc_id FROM documents d
    WHERE d.doc_id NOT IN (
      SELECT doc_b FROM verified WHERE jaccard >= {JACCARD_THRESHOLD})
    """,
)
def dedup_minhash_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents surviving near-dup removal: any doc with a smaller-id
    verified near-duplicate is dropped (min-id canonical policy)."""
    pairs = _minhash_lsh_candidates(spark, sf_dir)
    d = _docs(spark, sf_dir)
    return d.join(
        pairs.select(F.col("doc_b").alias("doc_id")).distinct(),
        "doc_id",
        "left_anti",
    ).select("doc_id")


# -- n-gram Jaccard on candidate pairs ------------------------------------


@register(
    "dedup_ngram_jaccard",
    _duck_minhash_pairs() + "SELECT doc_a, doc_b, jaccard FROM verified",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-3-gram Jaccard similarity for every LSH candidate pair
    (unfiltered — exposes the verify stage itself)."""
    return _minhash_lsh_candidates(spark, sf_dir, threshold=None)


# -- shingle containment (asymmetric near-dup) ------------------------------

CONTAINMENT_THRESHOLD = 0.5


@register(
    "dedup_containment",
    _duck_minhash_pairs()
    + f"""
    SELECT c.doc_a, c.doc_b,
           CAST(len(list_intersect(x.hs, y.hs)) AS BIGINT) AS n_common,
           CAST(len(x.hs) AS BIGINT) AS n_a,
           CAST(len(y.hs) AS BIGINT) AS n_b,
           round(CAST(len(list_intersect(x.hs, y.hs)) AS DOUBLE)
                 / len(x.hs), 4) AS c_ab,
           round(CAST(len(list_intersect(x.hs, y.hs)) AS DOUBLE)
                 / len(y.hs), 4) AS c_ba
    FROM cand c JOIN hx x ON x.doc_id = c.doc_a
                JOIN hx y ON y.doc_id = c.doc_b
    WHERE greatest(round(CAST(len(list_intersect(x.hs, y.hs)) AS DOUBLE)
                         / len(x.hs), 4),
                   round(CAST(len(list_intersect(x.hs, y.hs)) AS DOUBLE)
                         / len(y.hs), 4)) >= {CONTAINMENT_THRESHOLD}
    """,
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle CONTAINMENT scoring (Broder 1997's asymmetric resemblance
    twin): C(A,B) = |S(A) n S(B)| / |S(A)| over the LSH candidate pairs.
    Jaccard misses doc-inside-doc relationships — a short page quoted
    verbatim inside a long one has tiny |intersection|/|union| but
    containment ~1 in one direction — exactly the partial-copy profile
    (syndication, quoting, template wrapping) a curation pipeline wants
    to catch AFTER whole-doc near-dup removal.

    Emits both directions plus set sizes for every candidate pair where
    either direction clears CONTAINMENT_THRESHOLD; counts are exact
    integers, each ratio is ONE division of exact integers (engine-
    identical).

    Shape: reuses _lsh_candidate_sets — the banded self-join moves only
    fixed-width (doc_id, band, key) rows; shingle sets join in as sorted
    int arrays for candidates only. Zero new exchanges beyond the shared
    verify stage; at 100 TB the candidate set is LSH-bounded exactly as
    dedup_minhash_pairs documents. Recall caveat (documented, inherent):
    MinHash LSH recalls by RESEMBLANCE, so high-containment pairs with
    low Jaccard may not band-collide — production containment detection
    pairs this scorer with the seeded-shingle candidate generator of
    dedup_shingle_fraction's stream.
    """
    cand = _lsh_candidate_sets(spark, sf_dir)
    inter = F.size(F.array_intersect("ha", "hb")).cast("bigint")
    c_ab = F.round(inter.cast("double") / F.size("ha"), 4)
    c_ba = F.round(inter.cast("double") / F.size("hb"), 4)
    return (
        cand.select(
            "doc_a",
            "doc_b",
            inter.alias("n_common"),
            F.size("ha").cast("bigint").alias("n_a"),
            F.size("hb").cast("bigint").alias("n_b"),
            c_ab.alias("c_ab"),
            c_ba.alias("c_ba"),
        )
        .filter(
            F.greatest(F.col("c_ab"), F.col("c_ba")) >= CONTAINMENT_THRESHOLD
        )
    )


# -- SimHash ---------------------------------------------------------------


@register(
    "dedup_simhash",
    """
    WITH tok AS (
      SELECT doc_id, unnest(list_distinct(string_split(lower(trim(text)), ' '))) AS t
      FROM documents
    ), v AS (
      SELECT doc_id, ('0x' || substr(md5(t), 1, 8))::BIGINT AS v FROM tok
    ), bits AS (
      SELECT doc_id, j,
             sum(CASE WHEN (v >> j) & 1 = 1 THEN 1 ELSE -1 END) AS s
      FROM v, (SELECT unnest(generate_series(0, 31)) AS j) js
      GROUP BY doc_id, j
    )
    SELECT doc_id,
           -- CAST: DuckDB sum(BIGINT) -> HUGEINT -> pandas float64, which the
           -- driver's dtype-sensitive hash rejects vs Spark int64
           CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END)
                AS BIGINT) AS simhash
    FROM bits GROUP BY doc_id
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash per document.

    Explode distinct tokens -> one codegen'd groupBy with 32
    conditional-sum aggregates (one per bit) -> recombine bits in a
    final projection. (A nested higher-order-aggregate formulation is
    expressible per-row but evaluates interpreted and measured ~2-4x
    slower; the exploded aggregate stays inside whole-stage codegen and
    its shuffle moves only map-side-combined partial sums.)"""
    d = ensure_min_partitions(_docs(spark, sf_dir))
    tok = d.select(
        "doc_id",
        F.explode(F.array_distinct(F.split(F.lower(F.trim("text")), " "))).alias("t"),
    )
    v = F.expr("cast(conv(substr(md5(t), 1, 8), 16, 10) as bigint)")
    bit_sums = [
        F.sum(
            F.when(F.shiftright(v, j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"s{j}")
        for j in range(32)
    ]
    bits = tok.groupBy("doc_id").agg(*bit_sums)
    simhash = None
    for j in range(32):
        term = F.when(F.col(f"s{j}") > 0, F.lit(1 << j).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        )
        simhash = term if simhash is None else simhash + term
    return bits.select("doc_id", simhash.alias("simhash"))


# -- embedding cosine near-dup --------------------------------------------


@register(
    "dedup_embedding_cosine",
    """
    WITH e AS (
      SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings
    )
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           round((list_dot_product(a.emb, b.emb) / nullif(sqrt(list_dot_product(a.emb, a.emb)) * sqrt(list_dot_product(b.emb, b.emb)), 0)), 4) AS cosine
    FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
    ORDER BY cosine DESC, vec_a, vec_b
    LIMIT 20
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup: top-20 most-similar same-label pairs by
    cosine (label acts as the blocking key, the IVF-style scale lever:
    the pair space is |label_bucket|^2, not |corpus|^2).

    Round 12 (guide §4 / the `_kmeans_wide` lesson): the per-pair
    cosine previously ran as `aggregate(zip_with(...))` higher-order
    lambdas, which evaluate INTERPRETED — the scale probes measured
    HOF forms 7-11x slower than flat arithmetic. The embedding now
    unpacks to e0..e63 doubles before the join, each row's norm is
    computed ONCE pre-join, and the dot product is a flat codegen'd
    64-term chain. Bit-exactness: the HOF fold was left-associative
    starting at 0.0 (`0.0 + p0 + p1 + ...` — exact, the leading zero
    adds nothing), and the flat chain `p0 + p1 + ...` parses to the
    identical association, so every cosine is the same IEEE double."""
    dims = 64
    e = register_sources(spark, sf_dir, tables=("embeddings",))["embeddings"]
    e = e.select(
        "vec_id",
        "label",
        *[
            F.expr(f"cast(embedding[{i}] as double)").alias(f"e{i}")
            for i in range(dims)
        ],
    )
    sq = " + ".join(f"(e{i} * e{i})" for i in range(dims))
    e = e.select(
        "vec_id",
        "label",
        *[f"e{i}" for i in range(dims)],
        F.expr(f"sqrt({sq})").alias("nrm"),
    )
    dot = " + ".join(f"(a.e{i} * b.e{i})" for i in range(dims))
    # Zero-norm guard via try_divide (NULL on zero, single evaluation,
    # no plan-shape side effects; see similarity._cosine_expr).
    cos = F.expr(f"try_divide({dot}, a.nrm * b.nrm)")
    a, b = e.alias("a"), e.alias("b")
    return (
        a.join(b, (F.col("a.label") == F.col("b.label")) & (F.col("a.vec_id") < F.col("b.vec_id")))
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.round(cos, 4).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), "vec_a", "vec_b")
        .limit(20)
    )


# -- connected components (near-dup clusters) ------------------------------


@register(
    "dedup_components",
    _duck_minhash_pairs()
    + f"""
    , sym AS (
      SELECT doc_a AS a, doc_b AS b FROM verified WHERE jaccard >= {JACCARD_THRESHOLD}
      UNION
      SELECT doc_b AS a, doc_a AS b FROM verified WHERE jaccard >= {JACCARD_THRESHOLD}
    ), comp AS (
      WITH RECURSIVE reach(src, dst) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT r.src, s.b FROM reach r JOIN sym s ON r.dst = s.a
      )
      SELECT src AS doc_id, min(dst) AS component FROM reach GROUP BY src
    )
    SELECT doc_id, component FROM comp
    """,
)
def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate clusters: connected components over the verified
    LSH pair graph via iterative min-label propagation — the engine's
    iterative-algorithm operator.

    Each iteration joins current labels to the symmetrized edge list and
    takes the min label seen across self + neighbors; convergence after
    <= diameter iterations (near-dup clusters are shallow — typically
    2-3 hops). The loop is driver-side but the data never is: per
    iteration one join + one groupBy, both on doc_id.

    Scale: this is textbook label propagation; at 100 TB-scale graphs
    the refinement is the large-star/small-star algorithm (alternating
    star contractions, O(log n) rounds) — same join/groupBy primitives,
    fewer rounds on high-diameter graphs. The DuckDB oracle computes
    the same components with a recursive reachability CTE.
    """
    pairs = _minhash_lsh_candidates(spark, sf_dir)
    d = _docs(spark, sf_dir)
    # localCheckpoint, not persist (guide §3.3): the loop below re-joins
    # edges every iteration, and a persisted frame keeps its FULL
    # minhash/LSH lineage in the plan — every iteration's analysis
    # walks it again and the final plan grew to ~1 MB (972 KB explain,
    # measured). Checkpointing truncates the lineage to the
    # materialized blocks; the rows are identical.
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .union(pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
        .localCheckpoint(eager=True)
    )
    # localCheckpoint per iteration (guide §3.3): with persist, round
    # i's plan still carries rounds 1..i-1's lineage, so per-iteration
    # analysis cost grows with the round number (O(rounds^2) total) —
    # checkpointing pins each round's labels to its materialized
    # blocks. Blocks are freed by the ContextCleaner when the previous
    # round's frame goes out of scope.
    labels = d.select(
        "doc_id", F.col("doc_id").alias("component")
    ).localCheckpoint(eager=True)
    # Convergence via the monotone label-sum invariant instead of a
    # join-count: min-label propagation only ever DECREASES a doc's
    # label, so sum(component) is strictly decreasing until the fixed
    # point — sum equality <=> no label changed. One map-side aggregate
    # per iteration replaces the labels-join-labels + count job (guide
    # §2.4: remove the shuffle outright). decimal(38,0) keeps the sum
    # exact (no ANSI overflow) at any corpus size.
    label_sum = F.sum(F.col("component").cast("decimal(38,0)"))
    prev_sum = labels.agg(label_sum).head()[0]
    while True:
        nbr = (
            labels.join(edges, labels.doc_id == edges.src)
            .select(F.col("dst").alias("doc_id"), "component")
        )
        new_labels = (
            labels.select("doc_id", "component")
            .union(nbr)
            .groupBy("doc_id")
            .agg(F.min("component").alias("component"))
            .localCheckpoint(eager=True)
        )
        new_sum = new_labels.agg(label_sum).head()[0]
        labels = new_labels
        if new_sum == prev_sum:
            break
        prev_sum = new_sum
    return labels.select("doc_id", "component")


@register(
    "fuzzy_name_pairs",
    """
    WITH p AS (SELECT p_partkey, p_brand, p_size, p_name FROM part),
    pairs AS (
      SELECT a.p_brand, levenshtein(a.p_name, b.p_name) AS d
      FROM p a JOIN p b
        ON a.p_brand = b.p_brand AND a.p_size = b.p_size
       AND a.p_partkey < b.p_partkey
      WHERE levenshtein(a.p_name, b.p_name) <= 4
    )
    SELECT p_brand, count(*) AS n_pairs, min(d) AS min_dist,
           -- CAST: sum(int) is HUGEINT in DuckDB -> pandas float64 (driver
           -- dtype hash-fail vs Spark int64)
           CAST(sum(CASE WHEN d <= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_near_exact
    FROM pairs GROUP BY p_brand ORDER BY p_brand
    """,
)
def fuzzy_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy self-join (entity resolution): candidate part-name
    pairs within (brand, size) blocks at levenshtein distance <= 4,
    aggregated per brand.

    The edit-distance verify runs ONLY inside blocks — the join is a
    plain equi shuffle on the blocking key, never a cross join, so the
    quadratic blowup is capped at (block size)^2 per block. That is the
    canonical dedup/ER shape at scale: choose blocking keys so blocks
    stay small (here 2 keys cut 2M raw pairs to 80k candidates), salt
    any oversized block, and let the cheap key-equality prune before
    the expensive string metric runs. levenshtein() is JVM built-in —
    no Python in the verify loop.
    """
    p = register_sources(spark, sf_dir, tables=("part",))["part"].select(
        "p_partkey", "p_brand", "p_size", "p_name"
    )
    a, b = p.alias("a"), p.alias("b")
    d = F.levenshtein(F.col("a.p_name"), F.col("b.p_name"))
    pairs = (
        a.join(
            b,
            (F.col("a.p_brand") == F.col("b.p_brand"))
            & (F.col("a.p_size") == F.col("b.p_size"))
            & (F.col("a.p_partkey") < F.col("b.p_partkey")),
        )
        .filter(d <= 4)
        .select(F.col("a.p_brand").alias("p_brand"), d.alias("d"))
    )
    return (
        pairs.groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.min("d").alias("min_dist"),
            F.sum(F.when(F.col("d") <= 2, 1).otherwise(0)).alias("n_near_exact"),
        )
        .orderBy("p_brand")
    )


@register(
    "dedup_keep_best",
    """
    SELECT md5(text) AS content_hash,
           9999999999 - CAST(substr(max(printf('%010d|%010d', n_chars,
                              9999999999 - doc_id)), 12, 10) AS BIGINT)
             AS survivor_doc_id,
           max(n_chars) AS survivor_n_chars,
           count(*) AS dup_count
    FROM documents
    GROUP BY md5(text)
    """,
)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup with quality-aware survivor selection: within each
    content-hash group keep the LONGEST copy (ties -> lowest doc_id),
    not an arbitrary one — the curation-grade variant of dedup_exact,
    where "which duplicate survives" decides what the training set
    keeps (dedup_exact's min(doc_id) can discard the best-extracted
    copy of a page).

    The argmax is the engine-neutral fixed-width string trick
    ('%010d|%010d' over (quality, inverted doc_id)) so a single
    map-side-combinable max() aggregate carries both the decision and
    the tie-break — no window, no self-join, one shuffle of one string
    per group. Swap n_chars for any scalar quality score
    (text_quality_score) without changing the shape.
    """
    d = _docs(spark, sf_dir)
    inv = F.lit(9999999999) - F.col("doc_id")
    enc = F.format_string("%010d|%010d", F.col("n_chars"), inv)
    return d.groupBy(F.md5("text").alias("content_hash")).agg(
        (F.lit(9999999999) - F.substring(F.max(enc), 12, 10).cast("bigint")).alias(
            "survivor_doc_id"
        ),
        F.max("n_chars").alias("survivor_n_chars"),
        F.count(F.lit(1)).alias("dup_count"),
    )


# -- semantic dedup (SemDeDup: cluster-blocked embedding pruning) ----------

# k-means blocking clusters scale with the corpus: k = max(8, n // 64)
# keeps the expected cluster size (and so the per-cluster pair space)
# bounded at ~64 vectors regardless of corpus growth — the round-1 verdict
# flagged a fixed k=8 as the one SemDeDup scale gap (pair space O(n^2/k);
# SemDeDup itself used 50k clusters for LAION). The oracle computes the
# SAME k from the data, so Spark and DuckDB stay in lock-step at every sf.
SEMDEDUP_MIN_K = 8
SEMDEDUP_TARGET_CLUSTER = 64
SEMDEDUP_MAX_K = 65536  # cap: past this, clusters grow instead of k
SEMDEDUP_COS = 0.40  # within-cluster cosine prune threshold


def semdedup_k(n_vectors: int) -> int:
    """Blocking-cluster count for a corpus of ``n_vectors`` embeddings.

    Scales with the corpus (expected cluster size ~64) up to a cap:
    assignment costs O(n * k) distance evaluations, so an uncapped
    k = n/64 turns assignment quadratic. Past the cap, k pins at 64k
    clusters and cluster size grows instead — the published SemDeDup
    configuration (50k clusters for LAION) sits in the same regime;
    within-cluster pair space is then O(n^2 / 64k), still ~6 orders
    below all-pairs at a billion vectors.
    """
    return min(SEMDEDUP_MAX_K, max(SEMDEDUP_MIN_K, n_vectors // SEMDEDUP_TARGET_CLUSTER))


def _cluster_assigned(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, int]:
    """Corpus-scaling k-means-style cluster assignment over the
    embeddings table, shared by dedup_semantic and emb_knn_graph:
    returns (assigned, dims) where ``assigned`` is persisted-and-
    materialized wide rows (vec_id, nrm, e0..e{dims-1}, cluster_id).

    Assignment is a BROADCAST JOIN against the k-row centroid table,
    not k expressions folded into the scan: with k scaling as n/64,
    literal-folding k per-centroid distance expressions exploded the
    plan (k zip_with lambdas: 7.7s; k unpacked 64-term codegen sums:
    blew the codegen method limit, 20s interpreted — both measured at
    sf0.1, k=31). The join form keeps the plan O(1) in k and pays the
    irreducible n x k distance evaluations — as ONE codegen'd 64-term
    (e_i - c_i)^2 sum over wide columns on both sides (an interpreted
    zip_with here costs 4M lambda evals, measured ~4s at sf0.1). The
    summation is the same left-to-right order as DuckDB's
    list_distance, so the 6-dp micro rounding agrees bit-for-bit, and
    the argmin is integer-encoded (micro-distance * 1e5 + cid) so
    min() needs no string compares.

    Round 3: the centroid relation is DERIVED, not collected — a
    filtered projection of the embeddings scan (PushedFilters:
    vec_id < k), broadcast as-is. At the 64k-cluster cap the round-2
    form pulled ~33 MB of centroid rows through the driver and pushed
    them back as literals; this keeps them executor-side end to end
    and the plan stays one broadcast exchange at every k
    (test_plans.py pins the shape).
    """
    key = _memo_key(spark, sf_dir, "cluster_assigned")
    if key in _STAGE_MEMO:
        return _STAGE_MEMO[key]
    e = register_sources(spark, sf_dir, tables=("embeddings",))["embeddings"]
    dims = len(e.select("embedding").first()["embedding"])
    k = semdedup_k(e.count())
    e = e.select(
        "vec_id",
        F.expr("transform(embedding, x -> cast(x as double))").alias("emb"),
    )
    cents_wide = e.filter(F.col("vec_id") < k).selectExpr(
        "vec_id AS cid", *[f"emb[{i}] AS c{i}" for i in range(dims)]
    )
    # Wide expressions assemble as SQL STRINGS (one F.expr each), not
    # Column-by-Column: building ~200 Column objects costs a driver<->JVM
    # round trip apiece (~1s of plan construction per call; same fix and
    # measurement as sim_ivfpq_adc). The arithmetic text is unchanged.
    nrm_sql = (
        "sqrt(aggregate(transform(emb, x -> x * x), "
        "cast(0 as double), (s, x) -> s + x))"
    )
    unpacked = e.selectExpr(
        "vec_id",
        f"{nrm_sql} AS nrm",
        *[f"emb[{i}] AS e{i}" for i in range(dims)],
    )
    sq_sql = " + ".join(f"(e{i} - c{i}) * (e{i} - c{i})" for i in range(dims))
    enc_sql = (
        f"cast(round(sqrt({sq_sql}) * 1000000) as bigint) * 100000 + cid"
    )
    assignment = (
        unpacked.crossJoin(F.broadcast(cents_wide))
        .selectExpr("vec_id", f"({enc_sql}) AS enc")
        .groupBy("vec_id")
        .agg((F.min("enc") % 100000).cast("int").alias("cluster_id"))
    )
    assigned = unpacked.join(assignment, "vec_id").persist()
    assigned.count()  # materialize once: all consumers read the cache
    _STAGE_MEMO[key] = (assigned, dims)
    return assigned, dims


def duck_cluster_assign_ctes() -> str:
    """The cluster-assignment CTE chain (e, c, pick, a) shared VERBATIM
    by the dedup_semantic and emb_knn_graph oracles — one definition so
    the two can never drift (e.g. when the cluster-id encoding widens
    past 100k clusters, both oracles move together, like the Spark side
    already does via _cluster_assigned)."""
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
    c AS (SELECT vec_id AS cid, emb AS cv FROM e
          WHERE vec_id < LEAST({SEMDEDUP_MAX_K}, GREATEST({SEMDEDUP_MIN_K},
                (SELECT count(*) FROM e) // {SEMDEDUP_TARGET_CLUSTER}))),
    -- argmin encoded as pure integers (micro-distance * 1e5 + cid):
    -- numerically identical tie-break to the string-min trick, but the
    -- per-row cost is arithmetic instead of k printf/string compares
    -- (the string form fell out of whole-stage codegen once k grew)
    pick AS (
      SELECT e.vec_id,
             min(CAST(round(list_distance(e.emb, c.cv) * 1000000) AS BIGINT)
                 * 100000 + c.cid) AS p
      FROM e, c GROUP BY e.vec_id
    ),
    a AS (SELECT vec_id, CAST(p % 100000 AS INT) AS cluster_id FROM pick)
    """


@register(
    "dedup_semantic",
    duck_cluster_assign_ctes()
    + f""",
    pairs AS (
      SELECT y.vec_id AS vb
      FROM a x JOIN a y ON x.cluster_id = y.cluster_id AND x.vec_id < y.vec_id
      JOIN e ex ON ex.vec_id = x.vec_id
      JOIN e ey ON ey.vec_id = y.vec_id
      WHERE round((list_dot_product(ex.emb, ey.emb) / nullif(sqrt(list_dot_product(ex.emb, ex.emb)) * sqrt(list_dot_product(ey.emb, ey.emb)), 0)), 4) >= {SEMDEDUP_COS}
    )
    SELECT a.vec_id, a.cluster_id FROM a
    WHERE a.vec_id NOT IN (SELECT vb FROM pairs)
    """,
)
def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic deduplication: k-means-cluster the
    embedding corpus, then prune within-cluster pairs whose cosine
    exceeds the threshold (lowest vec_id survives). Returns the
    surviving (vec_id, cluster_id) rows.

    This is the published recipe for embedding-level dedup of web-scale
    corpora (SemDeDup, Abbas et al. 2023): exact dedup misses
    paraphrases; pairwise cosine over the corpus is O(n^2); clustering
    first makes the pair space O(sum |cluster_i|^2) and finds the same
    near-dups because near-dup pairs land in the same cluster (their
    distance to every centroid is nearly equal).

    Shape: centroid assignment is one broadcast join against the k-row
    centroid relation — itself a filtered projection of the embeddings
    scan, never collected to the driver — with an integer-encoded
    argmin. The pair join is equi on cluster_id, the verify is a
    codegen'd wide-column dot product, and the prune is one anti join
    on the higher-id side.

    Scale: k grows with the corpus — ``k = min(64k, max(8, n // 64))``
    (``semdedup_k``), so expected cluster size stays ~64 and the
    within-cluster pair space is O(n * 64), never O(n^2/const), until
    the 64k-cluster cap bounds the O(n * k) assignment cost (SemDeDup
    used 50k clusters for LAION — the same regime; past the cap the
    pair space is O(n^2 / 64k), still blocked). Assignment stays one
    broadcast join against the k-row centroid table (widen the '%05d'
    cluster-id encoding past 100k clusters). Measured (SCALE.md,
    round-2 scaling): 10x vectors with k 31->312 costs ~1x
    wall; 30x (60k vectors, k=937) costs 2.9x. Threshold 0.40 is a
    demo value for the synthetic fixture (max pair cosine ~0.51 —
    random vectors have no true dups); production SemDeDup uses ~0.95+.

    Hot-path rule (module docstring): the pair-side cosine is NOT a
    zip_with lambda — higher-order functions evaluate interpreted, and
    at |pairs| >> |vectors| that dominated the runtime (measured 6.4s
    -> 2.1s at sf0.1). Instead the 64 dims unpack into plain columns
    once per VECTOR (plus its norm), and the per-PAIR dot is a 64-term
    codegen'd product sum — the SimHash trade exactly.
    """
    assigned, dims = _cluster_assigned(spark, sf_dir)
    dot_sql = " + ".join(f"a.e{i} * b.e{i}" for i in range(dims))
    # Zero-norm guard via try_divide (NULL on zero, single evaluation,
    # no plan-shape side effects; see similarity._cosine_expr).
    cos = F.expr(f"try_divide({dot_sql}, a.nrm * b.nrm)")
    a, b = assigned.alias("a"), assigned.alias("b")
    dropped = (
        a.join(
            b,
            (F.col("a.cluster_id") == F.col("b.cluster_id"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .filter(F.round(cos, 4) >= SEMDEDUP_COS)
        .select(F.col("b.vec_id").alias("vec_id"))
        .distinct()
    )
    return assigned.join(dropped, "vec_id", "left_anti").select(
        "vec_id", "cluster_id"
    )


# -- n-gram novelty (memorization / duplication risk scoring) --------------


@register(
    "text_novelty_ratio",
    f"""
    WITH base AS (
      SELECT doc_id, {_DUCK_SHINGLES} AS sh
      FROM (SELECT doc_id, string_split(lower(trim(text)), ' ') AS words
            FROM documents)
    ), g AS (
      SELECT doc_id, unnest(sh) AS s FROM base
    ), freq AS (
      SELECT s, count(*) AS corpus_n FROM g GROUP BY s
    )
    SELECT g.doc_id,
           count(*) AS n_grams,
           count(*) FILTER (WHERE freq.corpus_n = 1) AS n_unique,
           round(count(*) FILTER (WHERE freq.corpus_n = 1)
                 / CAST(count(*) AS DOUBLE), 4) AS novelty
    FROM g JOIN freq USING (s)
    GROUP BY g.doc_id
    """,
)
def text_novelty_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document novelty: the share of a document's distinct word
    3-grams that appear NOWHERE else in the corpus — low novelty marks
    boilerplate-heavy or near-duplicated documents that inflate
    memorization risk; the score complements pair-level dedup (a doc
    can evade every pairwise threshold yet be 90% recycled fragments).

    Shape: ONE shingle explode (the minhash path's two-step
    words-projection, so _SPARK_SHINGLES is used verbatim), then
    corpus frequency as a count window PARTITIONED BY the gram — no
    self-join, no persist: the exploded stream shuffles once on the
    gram key, each gram row learns its corpus count in place, and the
    per-doc aggregate shuffles the (doc, flags) remainder.

    Scale: the gram-key shuffle is the data-sized cost (gram text —
    hash it with the minhash md5-int trick for production); hot grams
    ("of the and") are the skew case, AQE's or a salted pre-count's.
    At trillion-gram scale, count-min sketch the frequencies and
    broadcast the sketch — same score, no gram shuffle at all; exact
    kept here for the oracle.
    """
    from pyspark.sql import Window as W

    d = ensure_min_partitions(_docs(spark, sf_dir))
    words = d.select(
        "doc_id", F.split(F.lower(F.trim("text")), " ").alias("words")
    )
    g = words.select(
        "doc_id", F.explode(F.expr(_SPARK_SHINGLES)).alias("s")
    )
    counted = g.select(
        "doc_id", F.count(F.lit(1)).over(W.partitionBy("s")).alias("corpus_n")
    )
    return (
        counted.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.count_if(F.col("corpus_n") == 1).alias("n_unique"),
            F.round(
                F.count_if(F.col("corpus_n") == 1) / F.count(F.lit(1)).cast("double"),
                4,
            ).alias("novelty"),
        )
    )


@register(
    "dedup_incremental_batch",
    """
    WITH tagged AS (
      SELECT md5(text) AS h, doc_id < 250 AS is_hist FROM documents
    ), per_hash AS (
      SELECT h,
             sum(CASE WHEN is_hist THEN 0 ELSE 1 END) AS n_inc,
             max(CASE WHEN is_hist THEN 1 ELSE 0 END) AS has_hist
      FROM tagged GROUP BY h
    )
    -- CASTs: DuckDB sum(int) -> HUGEINT -> pandas float64 (driver dtype
    -- hash-fail vs Spark int64)
    SELECT CAST(sum(n_inc) AS BIGINT) AS n_incoming,
           CAST(sum(CASE WHEN has_hist = 0 AND n_inc > 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_kept,
           CAST(sum(CASE WHEN has_hist = 1 THEN n_inc ELSE 0 END) AS BIGINT)
             AS n_dup_vs_history,
           CAST(sum(CASE WHEN has_hist = 0 AND n_inc > 0 THEN n_inc - 1 ELSE 0 END)
                AS BIGINT) AS n_dup_within_batch
    FROM per_hash
    """,
)
def dedup_incremental_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup: admit an incoming batch against an already-
    ingested corpus — the shape every CONTINUOUSLY-growing training
    corpus runs (the other dedup operators here are whole-corpus).
    Stand-in split: doc_id < 250 is 'history', the rest is the batch.

    One scan, one shuffle: rows reduce per content hash carrying
    (incoming count, seen-in-history flag), and the admission stats
    fall out of that reduced table — no anti join of the batch against
    a history table, because the groupBy IS the join. A kept row is a
    hash with no history hit (first copy in the batch is canonical);
    extra batch copies and history collisions are counted separately
    (within-batch vs cross-run duplication answer different curation
    questions).

    Scale: at 100 TB history you don't rescan it per batch — the
    per-hash table (16-byte md5 + flag) is the materialized artifact
    this query's per_hash stage produces; each batch groupBy-merges
    against it (or probes a bloom filter built from it, see the
    runtime-bloom plan pin) and appends its new hashes back. State is
    O(distinct docs), payload never moves.
    """
    d = _docs(spark, sf_dir)
    tagged = d.select(
        F.md5("text").alias("h"),
        (F.col("doc_id") < 250).alias("is_hist"),
    )
    per_hash = tagged.groupBy("h").agg(
        F.sum(F.when(F.col("is_hist"), 0).otherwise(1)).alias("n_inc"),
        F.max(F.when(F.col("is_hist"), 1).otherwise(0)).alias("has_hist"),
    )
    no_hist = F.col("has_hist") == 0
    return per_hash.agg(
        F.sum("n_inc").alias("n_incoming"),
        F.sum(F.when(no_hist & (F.col("n_inc") > 0), 1).otherwise(0)).alias(
            "n_kept"
        ),
        F.sum(F.when(F.col("has_hist") == 1, F.col("n_inc")).otherwise(0)).alias(
            "n_dup_vs_history"
        ),
        F.sum(
            F.when(no_hist & (F.col("n_inc") > 0), F.col("n_inc") - 1).otherwise(0)
        ).alias("n_dup_within_batch"),
    )


# -- incremental NEAR-dup: new batch vs existing index -----------------------

INCR_NEAR_MOD = 7  # doc_id % 7 == 0 -> the "new batch"; rest = the index


@register(
    "dedup_incremental_near",
    _duck_minhash_prefix()
    + f""", cand AS (
      SELECT DISTINCT n.doc_id AS new_id, i.doc_id AS idx_id
      FROM long n JOIN long i ON n.band = i.band AND n.key = i.key
      WHERE n.doc_id % {INCR_NEAR_MOD} = 0 AND i.doc_id % {INCR_NEAR_MOD} <> 0
    ), verified AS (
      SELECT c.new_id, c.idx_id,
             round(CAST(len(list_intersect(x.hs, y.hs)) AS DOUBLE) /
                   (len(x.hs) + len(y.hs) - len(list_intersect(x.hs, y.hs))),
                   4) AS jaccard
      FROM cand c JOIN hx x ON x.doc_id = c.new_id
                  JOIN hx y ON y.doc_id = c.idx_id
    ), best AS (
      SELECT new_id, idx_id, jaccard,
             row_number() OVER (PARTITION BY new_id
               ORDER BY jaccard DESC, idx_id) AS rk
      FROM verified
    )
    SELECT d.doc_id AS new_id, b.idx_id AS matched_doc, b.jaccard,
           coalesce(b.jaccard >= {JACCARD_THRESHOLD}, false) AS is_near_dup
    FROM documents d
    LEFT JOIN (SELECT * FROM best WHERE rk = 1) b ON b.new_id = d.doc_id
    WHERE d.doc_id % {INCR_NEAR_MOD} = 0
    """,
)
def dedup_incremental_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental NEAR-duplicate check: every document of the "new
    batch" (doc_id % {INCR_NEAR_MOD} == 0 — the arriving crawl
    snapshot) scored against the EXISTING corpus via the shared LSH
    index: best-matching index doc, its verified Jaccard, and the
    is_near_dup admission verdict — the production shape of continuous
    corpus ingestion (dedup_incremental_batch is the exact-hash
    sibling; this is the fuzzy one, Lee et al.'s "don't re-admit a
    near-copy of what you already have").

    Shape: reuses the ONE persisted signature/band stage
    (_lsh_candidate_sets' memoized `sigs`) — candidates are the
    cross-split subset of the band-equi-join, normalized to
    (new_id, idx_id); jaccard is verified on the compact hashed-shingle
    int arrays; the per-new-doc argmax is a window over (jaccard DESC,
    idx_id) on ROUNDED values, engine-exact. New docs with no candidate
    are emitted is_near_dup=false with NULL match — the gate contract
    (cf. quality_gopher_rules' empty-doc lesson).

    Scale: at 100 TB the index side's band table is precomputed and
    bucket-partitioned by (band, key); a new batch probes only its own
    band keys — candidate volume scales with the batch's true dup
    density, never |index|. The verify join pulls shingle arrays for
    candidate ids only.
    """
    cand = _lsh_candidate_sets(spark, sf_dir)
    is_new_a = F.col("doc_a") % INCR_NEAR_MOD == 0
    is_new_b = F.col("doc_b") % INCR_NEAR_MOD == 0
    inter = F.size(F.array_intersect("ha", "hb"))
    union = F.size("ha") + F.size("hb") - inter
    scored = (
        cand.filter(is_new_a != is_new_b)
        .select(
            F.when(is_new_a, F.col("doc_a")).otherwise(F.col("doc_b")).alias("new_id"),
            F.when(is_new_a, F.col("doc_b")).otherwise(F.col("doc_a")).alias("idx_id"),
            F.round(inter.cast("double") / union, 4).alias("jaccard"),
        )
    )
    from pyspark.sql import Window as W

    best = (
        scored.withColumn(
            "rk",
            F.row_number().over(
                W.partitionBy("new_id").orderBy(F.col("jaccard").desc(), "idx_id")
            ),
        )
        .filter(F.col("rk") == 1)
        .drop("rk")
    )
    new_docs = (
        _docs(spark, sf_dir)
        .filter(F.col("doc_id") % INCR_NEAR_MOD == 0)
        .select(F.col("doc_id").alias("new_id"))
    )
    return new_docs.join(best, "new_id", "left").select(
        "new_id",
        F.col("idx_id").alias("matched_doc"),
        "jaccard",
        F.coalesce(
            F.col("jaccard") >= JACCARD_THRESHOLD, F.lit(False)
        ).alias("is_near_dup"),
    )


# -- incremental NEAR-dup against a PERSISTED index --------------------------
#
# dedup_incremental_near scores a batch against a session-memoized LSH
# stage; this section is its production form: the "existing corpus" is a
# pair of REAL warehouse tables the pipeline owns —
#
#   <db>.bands (doc_id, band, key)  — the LSH probe surface
#   <db>.sigs  (doc_id, hs)         — hashed-shingle sets for verify
#
# — built once, then APPENDED to as batches are admitted. A 100 TB
# ingestion never recomputes the index side: each arriving batch
# signature-izes itself (work O(|batch|)), probes the bands table on
# (band, key), verifies Jaccard against sigs rows for candidate ids
# only, and appends its admitted docs back. Candidate volume scales
# with the batch's true dup density; index tables grow O(corpus).
# At cluster scale both tables would be bucketed by their join keys
# ((band, key) / doc_id) so the probe shuffles only the batch side;
# the sandbox metastore keeps them plain parquet, same plan shape.

INCR_IDX_BASE_MOD = 2  # doc_id % 7 >= 2 -> the owned corpus (base index)
INCR_IDX_BATCH1 = 0    # doc_id % 7 == 0 -> first arriving batch
INCR_IDX_BATCH2 = 1    # doc_id % 7 == 1 -> second arriving batch


def _near_index_db(sf_dir: str) -> str:
    # Fingerprinted name (ADVICE r7): a leaf-name-only tag let two
    # corpora at /a/sf0.1 and /b/sf0.1 — or one regenerated in place —
    # silently adopt each other's index and emit wrong verdicts.
    from .index_store import index_db_name

    return index_db_name("dedup_near_idx", sf_dir, ("documents.parquet",))


def _near_index_has_batch(spark: SparkSession, db: str, mod: int) -> bool:
    return not (
        spark.table(f"{db}.sigs")
        .filter(F.col("doc_id") % INCR_NEAR_MOD == mod)
        .isEmpty()
    )


def _score_batch_vs_index(
    spark: SparkSession,
    db,
    batch_sigs: DataFrame,
    anchor_docs: DataFrame | None = None,
) -> DataFrame:
    """Admission scoring of a signature-ized batch against the persisted
    index (``db``: one database name or a layered base+delta tuple):
    (new_id, matched_doc, jaccard, is_near_dup), one row per
    batch doc (no drops), matched_doc = Jaccard-argmax index doc
    (ties -> smaller doc_id), all reads storage-backed via spark.table.

    ``anchor_docs`` (the raw batch docs frame) anchors the final "no
    drops" left join when given: a batch doc with NULL/empty text yields
    no signature row, so anchoring on batch_sigs alone would silently
    drop it from the verdict frame (ADVICE r7) — unsignaturable docs
    must still emit (new_id, NULL, NULL, false), matching the DuckDB
    oracle's LEFT JOIN from documents.

    Argmax shape (round 12, guide §2.4): the best-match selection is a
    map-side ``min`` over an orderable struct — (10000 - jaccard*1e4,
    idx_id, jaccard) — instead of a row_number window, removing the
    window's sort (the struct's first field is injective on the
    already-4-decimal-rounded jaccard, so the order is identical:
    jaccard DESC, idx_id ASC; the original double rides along as the
    third field, never compared because the first two determine it).
    Measured ~0.2s per admission at sf0.1 (one fewer sort per score);
    verified row-identical against the window form.
    """
    from .index_store import read_live

    # tombstoned docs (the erasure overlay) vanish from every layer
    idx_bands, idx_sigs = read_live(spark, db, ("bands", "sigs"), "doc_id")
    cand = (
        _band_long(batch_sigs)
        .withColumnRenamed("doc_id", "new_id")
        .join(idx_bands.withColumnRenamed("doc_id", "idx_id"), ["band", "key"])
        .select("new_id", "idx_id")
        .distinct()
    )
    scored = (
        cand.join(
            batch_sigs.select(F.col("doc_id").alias("new_id"), F.col("hs").alias("ha")),
            "new_id",
        )
        .join(
            idx_sigs.select(F.col("doc_id").alias("idx_id"), F.col("hs").alias("hb")),
            "idx_id",
        )
    )
    inter = F.size(F.array_intersect("ha", "hb"))
    # union >= 1 on every scored row: a signature row exists only for a
    # doc with at least one shingle, so both hs arrays are non-empty.
    # That keeps jac, and so the struct's first field nj, non-NULL; the
    # struct min below sorts a NULL first field FIRST, where the window
    # it replaced sorted a NULL jaccard last.
    union = F.size("ha") + F.size("hb") - inter
    jac = F.round(inter.cast("double") / union, 4)
    best = (
        scored.select(
            "new_id",
            F.struct(
                (
                    F.lit(10000) - F.round(jac * 10000).cast("bigint")
                ).alias("nj"),
                F.col("idx_id").alias("idx_id"),
                jac.alias("jaccard"),
            ).alias("s"),
        )
        .groupBy("new_id")
        .agg(F.min("s").alias("s"))
        .select("new_id", "s.idx_id", "s.jaccard")
    )
    anchor = (
        anchor_docs if anchor_docs is not None else batch_sigs
    ).select(F.col("doc_id").alias("new_id"))
    return anchor.join(
        best, "new_id", "left"
    ).select(
        "new_id",
        F.col("idx_id").alias("matched_doc"),
        "jaccard",
        F.coalesce(F.col("jaccard") >= JACCARD_THRESHOLD, F.lit(False)).alias(
            "is_near_dup"
        ),
    )


# sigs first: the size-ratio trigger sizes a layer by its first table
_NEAR_IDX_DDL = {
    "sigs": "doc_id bigint, hs array<bigint>",
    "bands": "doc_id bigint, band int, key string",
}
_NEAR_IDX_TABLES = tuple(_NEAR_IDX_DDL)
_NEAR_IDX_SCHEMA = {"bands": ("doc_id", "band", "key"), "sigs": ("doc_id", "hs")}


def build_near_dup_index(
    spark: SparkSession, sf_dir: str, db: str | None = None, fresh: bool = False
) -> str:
    """Materialize the base near-dup index (owned corpus: doc_id %
    {INCR_NEAR_MOD} >= {INCR_IDX_BASE_MOD}) as real tables; returns
    'built' or 'reused'. Reuse is catalog-driven: a second build in the
    same warehouse reads the existing tables untouched — the cross-build
    contract a continuous-ingestion pipeline relies on. ``db`` overrides
    the database name (the streaming gate keeps a separate index so the
    two-build batch query and the stream never share state).

    Bootstrap lifecycle (catalog-first reuse, cross-session location
    adoption, clear-and-rebuild on half-written groups) is the shared
    ``index_store.ensure_tables`` contract — see that module."""
    from ..catalog import catalog_lock
    from .index_store import _ensure_db, clear_tables, ensure_tables

    db = db or _near_index_db(sf_dir)

    def _build() -> None:
        base = _docs(spark, sf_dir).filter(
            F.col("doc_id") % INCR_NEAR_MOD >= INCR_IDX_BASE_MOD
        )
        sigs = _doc_signatures(base).select(
            "doc_id", "hs", *[f"h{i}" for i in range(N_HASHES)]
        )
        sigs.persist()
        try:
            sigs.select("doc_id", "hs").write.format("parquet").mode(
                "overwrite"
            ).saveAsTable(f"{db}.sigs")
            _band_long(sigs).write.format("parquet").mode(
                "overwrite"
            ).saveAsTable(f"{db}.bands")
        finally:
            sigs.unpersist()

    with catalog_lock:
        if fresh:
            # deterministic rebuild: clear catalog entries AND leftover
            # location files (a prior PROCESS's index survives a
            # catalog-only drop and would otherwise be adopted)
            _ensure_db(spark, db)
            clear_tables(spark, db, _NEAR_IDX_TABLES)
            _build()
            return "built"
        return ensure_tables(
            spark, db, _NEAR_IDX_TABLES, _build, expect=_NEAR_IDX_SCHEMA
        )


def admit_batch_to_index(spark: SparkSession, sf_dir: str, batch_mod: int) -> str:
    """Score batch ``doc_id % {INCR_NEAR_MOD} == batch_mod`` against the
    persisted index and APPEND its admitted (non-near-dup) docs to the
    index tables. Idempotent per batch: if the index already holds any
    doc of this batch, the admission already ran — returns 'reused'
    without rescoring (the marker is the batch's own presence, so a
    batch admitting zero docs re-runs harmlessly to the same result)."""
    from ..catalog import catalog_lock

    db = _near_index_db(sf_dir)
    with catalog_lock:
        if _near_index_has_batch(spark, db, batch_mod):
            return "reused"
        batch = _docs(spark, sf_dir).filter(
            F.col("doc_id") % INCR_NEAR_MOD == batch_mod
        )
        _admit_batch_df(spark, db, batch)
        return "admitted"


def _admit_batch_df(
    spark: SparkSession,
    db,
    batch_docs: DataFrame,
    write_db: str | None = None,
    auto_compact_ratio: float | None = None,
) -> DataFrame:
    """Admission core shared by the batch wrapper and the streaming
    gate: signature-ize ``batch_docs``, score against the persisted
    index (``db``: one database or a layered base+delta tuple), APPEND
    the admitted (non-near-dup) docs' signatures and bands to
    ``write_db`` (default: the sole/last read layer), and return the
    verdict frame.

    ``auto_compact_ratio`` (opt-in, layered ``db`` only): after the
    appends, run the :func:`index_store.maybe_fold_delta` size-ratio
    trigger so a
    long-running admission loop folds its delta into the base the
    moment the overlay stops being "small" — without the caller ever
    scheduling maintenance explicitly. Callers sharing an immutable
    base across runs must leave this off."""
    if write_db is None:
        write_db = db if isinstance(db, str) else db[-1]
    from .index_store import maybe_fold_delta
    from .lease import maintenance_lease

    sigs = _doc_signatures(batch_docs)
    sigs.persist()
    try:
        # Cross-process writer exclusion (VERDICT r9 #2): the probe +
        # append window holds the pair's maintenance lease — keyed on
        # the BASE layer, the same key the folds use — so a maintainer
        # in another process can neither fold the delta between this
        # probe and its append nor swap tables out from under the probe
        # scan. In-process this
        # nests reentrantly; at 100 TB the probe-under-lease serializa-
        # tion is replaced by snapshot-isolated reads (table-format
        # time travel) with only the append+fold window leased.
        with maintenance_lease(
            spark, db if isinstance(db, str) else db[0]
        ) as lease:
            # localCheckpoint, not persist: the appends below write tables
            # the verdict plan READS, and Spark invalidates cached plans
            # that reference a written table — a persisted frame would
            # silently RECOMPUTE against the post-append index on its next
            # action (docs then match THEMSELVES at jaccard 1.0; caught by
            # the streaming gate's oracle). Checkpointing truncates the
            # lineage to the materialized blocks, so the verdicts are
            # immutable from here on.
            verdicts = _score_batch_vs_index(
                spark, db, sigs, anchor_docs=batch_docs
            ).localCheckpoint(eager=True)
            admitted = verdicts.filter(~F.col("is_near_dup")).select(
                F.col("new_id").alias("doc_id")
            )
            adm_sigs = sigs.join(admitted, "doc_id", "left_semi")
            # ADVICE r10: scoring above can exceed the lease TTL (the
            # x30 cold admission measures ~49s vs a 60s default), and a
            # silently expired lease here reopens the exact lost-
            # admission window the lease closes — a cross-process fold
            # could run between the appends below. renew() extends
            # the expiry now that the long probe is done (raising
            # LeaseLostError if the lease was stolen mid-score — abort
            # BEFORE appending anything), and check() fences each
            # append.
            lease.renew()
            lease.check()
            # Append ORDER is the crash-safety contract (ADVICE r7): the
            # per-batch idempotency marker is the batch's presence in SIGS
            # (_near_index_has_batch), so bands must land first. A crash
            # between the two appends then replays the whole admission —
            # the duplicate bands rows are harmless (candidate generation
            # is DISTINCT on (new_id, idx_id), and scoring requires a sigs
            # row, so half-admitted ids can't self-match) — whereas the old
            # sigs-first order left band rows permanently missing and those
            # docs undiscoverable by every future batch.
            #
            # File sizing (round 12, guide §6): sigs carries the 32-way
            # hash parallelism of ensure_min_partitions, so an unchecked
            # append fragments a batch into one tiny file per partition
            # (32 files for ~700 admitted rows locally; measured ~2x the
            # write time, and every future probe lists/opens them all).
            # Coalesce to parts/16 — at production batch sizes that is
            # ~16 hash-partitions of rows per file (the 128MB-class
            # range); locally it collapses the tail of tiny files.
            n_files = max(1, sigs.rdd.getNumPartitions() // 16)
            _band_long(adm_sigs).coalesce(n_files).write.format(
                "parquet"
            ).mode("append").saveAsTable(f"{write_db}.bands")
            lease.check()  # fence between the two appends
            adm_sigs.select("doc_id", "hs").coalesce(n_files).write.format(
                "parquet"
            ).mode("append").saveAsTable(f"{write_db}.sigs")
            # Invalidate cached file listings so the NEXT batch's
            # spark.table() sees these appends — inside a foreachBatch loop
            # the micro-batch session clone otherwise reads a stale file
            # index and misses matches against just-admitted docs (caught by
            # the streaming gate's oracle at sf0.01).
            spark.catalog.refreshTable(f"{write_db}.sigs")
            spark.catalog.refreshTable(f"{write_db}.bands")
            if (
                auto_compact_ratio is not None
                and not isinstance(db, str)
                and len(db) == 2
                and write_db == db[1]
            ):
                maybe_fold_delta(
                    spark, db[0], db[1], _NEAR_IDX_TABLES, auto_compact_ratio
                )
        return verdicts
    finally:
        sigs.unpersist()


def _duck_incr_indexed() -> str:
    """Oracle replay of the two-build admission: batch1 admitted vs the
    base split, base+admitted1 = the updated index, batch2 scored
    against it."""
    j = (
        "round(CAST(len(list_intersect(x.hs, y.hs)) AS DOUBLE) /"
        " (len(x.hs) + len(y.hs) - len(list_intersect(x.hs, y.hs))), 4)"
    )
    return _duck_minhash_prefix() + f""", cand1 AS (
      SELECT DISTINCT n.doc_id AS new_id, i.doc_id AS idx_id
      FROM long n JOIN long i ON n.band = i.band AND n.key = i.key
      WHERE n.doc_id % {INCR_NEAR_MOD} = {INCR_IDX_BATCH1}
        AND i.doc_id % {INCR_NEAR_MOD} >= {INCR_IDX_BASE_MOD}
    ), dup1 AS (
      SELECT DISTINCT c.new_id
      FROM cand1 c JOIN hx x ON x.doc_id = c.new_id
                   JOIN hx y ON y.doc_id = c.idx_id
      WHERE {j} >= {JACCARD_THRESHOLD}
    ), idx2 AS (
      SELECT doc_id FROM documents
      WHERE doc_id % {INCR_NEAR_MOD} >= {INCR_IDX_BASE_MOD}
      UNION ALL
      SELECT doc_id FROM documents
      WHERE doc_id % {INCR_NEAR_MOD} = {INCR_IDX_BATCH1}
        AND doc_id NOT IN (SELECT new_id FROM dup1)
    ), cand2 AS (
      SELECT DISTINCT n.doc_id AS new_id, i.doc_id AS idx_id
      FROM long n JOIN long i ON n.band = i.band AND n.key = i.key
      JOIN idx2 ON idx2.doc_id = i.doc_id
      WHERE n.doc_id % {INCR_NEAR_MOD} = {INCR_IDX_BATCH2}
    ), ver2 AS (
      SELECT c.new_id, c.idx_id, {j} AS jaccard
      FROM cand2 c JOIN hx x ON x.doc_id = c.new_id
                   JOIN hx y ON y.doc_id = c.idx_id
    ), best AS (
      SELECT new_id, idx_id, jaccard,
             row_number() OVER (PARTITION BY new_id
               ORDER BY jaccard DESC, idx_id) AS rk
      FROM ver2
    )
    SELECT d.doc_id AS new_id, b.idx_id AS matched_doc, b.jaccard,
           coalesce(b.jaccard >= {JACCARD_THRESHOLD}, false) AS is_near_dup
    FROM documents d
    LEFT JOIN (SELECT * FROM best WHERE rk = 1) b ON b.new_id = d.doc_id
    WHERE d.doc_id % {INCR_NEAR_MOD} = {INCR_IDX_BATCH2}
    """


@register("dedup_incr_near_indexed", _duck_incr_indexed(), lifecycle=True)
def dedup_incr_near_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-build incremental near-dup admission against a PERSISTED LSH
    index (the round-7 production upgrade of dedup_incremental_near):
    build 1 materializes the owned corpus's band/signature tables and
    admits batch 1 (appending its survivors); build 2 — this query's
    returned frame — scores batch 2 against the UPDATED storage-backed
    index, so a batch-2 doc can match a base doc OR an admitted batch-1
    doc. Every read on the index side is spark.table() (real parquet
    tables in the warehouse), never a session-memoized lineage; repeat
    invocations hit the 'reused' paths and never rebuild or re-append
    (pinned by tests/test_engine.py::test_near_dup_index_persistence).

    Output contract matches dedup_incremental_near: one row per batch-2
    doc (no drops), best match by (jaccard DESC, idx_id), verdict at
    Jaccard >= {JACCARD_THRESHOLD}, NULL match -> is_near_dup=false.
    """
    build_near_dup_index(spark, sf_dir)
    admit_batch_to_index(spark, sf_dir, INCR_IDX_BATCH1)
    db = _near_index_db(sf_dir)
    batch2 = _docs(spark, sf_dir).filter(
        F.col("doc_id") % INCR_NEAR_MOD == INCR_IDX_BATCH2
    )
    return _score_batch_vs_index(
        spark, db, _doc_signatures(batch2), anchor_docs=batch2
    )


# -- STREAMING near-dup admission over the persisted index -------------------


def _stage_doc_waves(
    spark: SparkSession, sf_dir: str, kind: str, mods: tuple[int, int], *cols: str
) -> Staged:
    """Stage the ``doc_id % {INCR_NEAR_MOD}`` slices ``mods`` (``cols``
    only, default every column) as micro-batches 0 and 1 of a document
    stream (:func:`streams.stage_batches`). The arriving corpus is
    {INCR_IDX_BATCH1} then {INCR_IDX_BATCH2}; forget requests are
    {INCR_IDX_FORGET} then {NEAR_FORGET_WAVE2}, doc_id only."""
    d = _docs(spark, sf_dir)
    waves = [d.filter(F.col("doc_id") % INCR_NEAR_MOD == m) for m in mods]
    if cols:
        waves = [w.select(*cols) for w in waves]
    return stage_batches(spark, kind, sf_dir, "documents.parquet", waves)


def _duck_stream_admission() -> str:
    """Oracle replay of the streamed two-batch admission: identical
    update sequence to _duck_incr_indexed, but emitting BOTH batches'
    verdicts tagged with their micro-batch id."""
    j = (
        "round(CAST(len(list_intersect(x.hs, y.hs)) AS DOUBLE) /"
        " (len(x.hs) + len(y.hs) - len(list_intersect(x.hs, y.hs))), 4)"
    )
    return _duck_minhash_prefix() + f""", cand1 AS (
      SELECT DISTINCT n.doc_id AS new_id, i.doc_id AS idx_id
      FROM long n JOIN long i ON n.band = i.band AND n.key = i.key
      WHERE n.doc_id % {INCR_NEAR_MOD} = {INCR_IDX_BATCH1}
        AND i.doc_id % {INCR_NEAR_MOD} >= {INCR_IDX_BASE_MOD}
    ), ver1 AS (
      SELECT c.new_id, c.idx_id, {j} AS jaccard
      FROM cand1 c JOIN hx x ON x.doc_id = c.new_id
                   JOIN hx y ON y.doc_id = c.idx_id
    ), best1 AS (
      SELECT new_id, idx_id, jaccard,
             row_number() OVER (PARTITION BY new_id
               ORDER BY jaccard DESC, idx_id) AS rk
      FROM ver1
    ), v1 AS (
      SELECT 0 AS batch_id, d.doc_id AS new_id, b.idx_id AS matched_doc,
             b.jaccard,
             coalesce(b.jaccard >= {JACCARD_THRESHOLD}, false) AS is_near_dup
      FROM documents d
      LEFT JOIN (SELECT * FROM best1 WHERE rk = 1) b ON b.new_id = d.doc_id
      WHERE d.doc_id % {INCR_NEAR_MOD} = {INCR_IDX_BATCH1}
    ), idx2 AS (
      SELECT doc_id FROM documents
      WHERE doc_id % {INCR_NEAR_MOD} >= {INCR_IDX_BASE_MOD}
      UNION ALL
      SELECT new_id FROM v1 WHERE NOT is_near_dup
    ), cand2 AS (
      SELECT DISTINCT n.doc_id AS new_id, i.doc_id AS idx_id
      FROM long n JOIN long i ON n.band = i.band AND n.key = i.key
      JOIN idx2 ON idx2.doc_id = i.doc_id
      WHERE n.doc_id % {INCR_NEAR_MOD} = {INCR_IDX_BATCH2}
    ), ver2 AS (
      SELECT c.new_id, c.idx_id, {j} AS jaccard
      FROM cand2 c JOIN hx x ON x.doc_id = c.new_id
                   JOIN hx y ON y.doc_id = c.idx_id
    ), best2 AS (
      SELECT new_id, idx_id, jaccard,
             row_number() OVER (PARTITION BY new_id
               ORDER BY jaccard DESC, idx_id) AS rk
      FROM ver2
    ), v2 AS (
      SELECT 1 AS batch_id, d.doc_id AS new_id, b.idx_id AS matched_doc,
             b.jaccard,
             coalesce(b.jaccard >= {JACCARD_THRESHOLD}, false) AS is_near_dup
      FROM documents d
      LEFT JOIN (SELECT * FROM best2 WHERE rk = 1) b ON b.new_id = d.doc_id
      WHERE d.doc_id % {INCR_NEAR_MOD} = {INCR_IDX_BATCH2}
    )
    SELECT * FROM v1 UNION ALL SELECT * FROM v2
    """


@register("stream_near_dup_admission", _duck_stream_admission(), lifecycle=True)
def stream_near_dup_admission(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONTINUOUS corpus ingestion with near-dup admission — the
    streaming composition of the round-7 persisted index: a document
    file stream (two staged arrival files = two micro-batches in pinned
    mtime order) runs through ``foreachBatch``; each micro-batch is
    signature-ized, scored against the CURRENT persisted LSH index
    (storage-backed spark.table reads), its verdicts land in a parquet
    sink, and its admitted docs are APPENDED to the index before the
    next batch fires — so a batch-2 doc can match a doc admitted from
    batch 1 seconds earlier. Emits every streamed doc's verdict
    (batch_id, new_id, matched_doc, jaccard, is_near_dup), no drops.

    The stream keeps a LAYERED index of its own: an immutable base
    database (suffix ``_sbase``, built/adopted once and reused across
    invocations) plus a per-run delta overlay (``_sdelta``, recreated
    empty each invocation) that receives the admissions — so repeat
    runs are deterministic without rebuilding the base, and the batch
    query (dedup_incr_near_indexed) never shares state with the stream.
    ``availableNow`` + ``maxFilesPerTrigger=1`` is the production
    backfill trigger with per-file batching.

    Scale: everything executor-side — per-batch work is O(|batch|
    signatures + band probe + dup-density-bounded verify); verdicts are
    WRITTEN (parquet sink), never collected; index appends are the
    admitted subset only. At 100 TB the landing prefix replaces the
    staged dir and the sink becomes the curated-corpus table; nothing
    else changes.
    """
    from .index_store import reset_scratch

    # Layered index, the production shape: the BASE is immutable and
    # built/adopted ONCE (reused across invocations — at 100 TB you
    # never rewrite it); per-run admissions land in a DELTA overlay
    # emptied each invocation, so repeat invocations stay deterministic
    # without a rebuild (measured: ~6s -> ~2s per bench run at sf0.1).
    base_db = _near_index_db(sf_dir) + "_sbase"
    delta_db = _near_index_db(sf_dir) + "_sdelta"
    staged = _stage_doc_waves(
        spark, sf_dir, "docs_arrivals", (INCR_IDX_BATCH1, INCR_IDX_BATCH2)
    )
    build_near_dup_index(spark, sf_dir, db=base_db)
    reset_scratch(spark, delta_db, _NEAR_IDX_DDL)

    # deterministic fingerprint-keyed sink, cleared at run start: the
    # prior run's directory is reused in place instead of leaking one
    # uuid-named dir per invocation (ADVICE r8)
    out_dir = scratch_dir(
        "near_dup_verdicts", sf_dir, ("documents.parquet",), fresh=True
    )

    def _on_batch(batch_df: DataFrame) -> DataFrame:
        return _admit_batch_df(
            spark, (base_db, delta_db), batch_df, write_db=delta_db
        ).select("new_id", "matched_doc", "jaccard", "is_near_dup")

    return stream_batches(spark, staged, _on_batch, out_dir)


# -- incremental EXACT dedup against a PERSISTED hash set --------------------


def _exact_index_db(sf_dir: str) -> str:
    return _near_index_db(sf_dir).replace("dedup_near_idx", "dedup_exact_idx")


def build_exact_dup_index(
    spark: SparkSession, sf_dir: str, db: str | None = None
) -> str:
    """Materialize the exact-dedup state table — the per-hash artifact
    dedup_incremental_batch's docstring promises — as a real warehouse
    table ``<db>.hashes`` (h: 16-byte md5 hex) over the owned corpus
    (doc_id % {INCR_NEAR_MOD} >= {INCR_IDX_BASE_MOD}). O(distinct docs)
    state, payload never stored. Returns 'built' or 'reused'
    (catalog-first, then location adoption — the shared
    ``index_store.ensure_tables`` contract)."""
    db = db or _exact_index_db(sf_dir)
    from .index_store import ensure_tables

    def _build() -> None:
        base = _docs(spark, sf_dir).filter(
            F.col("doc_id") % INCR_NEAR_MOD >= INCR_IDX_BASE_MOD
        )
        base.select(F.md5("text").alias("h")).distinct().write.format(
            "parquet"
        ).mode("overwrite").saveAsTable(f"{db}.hashes")

    return ensure_tables(
        spark, db, ("hashes",), _build, expect={"hashes": ("h",)}
    )


def _duck_incr_exact_indexed() -> str:
    return f"""
    WITH hx AS (SELECT doc_id, md5(text) AS h FROM documents),
    base AS (
      SELECT DISTINCT h FROM hx
      WHERE doc_id % {INCR_NEAR_MOD} >= {INCR_IDX_BASE_MOD}
    ), b1 AS (
      SELECT doc_id, h FROM hx WHERE doc_id % {INCR_NEAR_MOD} = {INCR_IDX_BATCH1}
    ), v1 AS (
      SELECT 0 AS batch_id, b1.doc_id,
             (base.h IS NOT NULL
              OR row_number() OVER (PARTITION BY b1.h ORDER BY b1.doc_id) > 1)
               AS is_dup
      FROM b1 LEFT JOIN base ON base.h = b1.h
    ), idx2 AS (
      SELECT h FROM base
      UNION
      SELECT DISTINCT h FROM b1
    ), b2 AS (
      SELECT doc_id, h FROM hx WHERE doc_id % {INCR_NEAR_MOD} = {INCR_IDX_BATCH2}
    ), v2 AS (
      SELECT 1 AS batch_id, b2.doc_id,
             (idx2.h IS NOT NULL
              OR row_number() OVER (PARTITION BY b2.h ORDER BY b2.doc_id) > 1)
               AS is_dup
      FROM b2 LEFT JOIN idx2 ON idx2.h = b2.h
    )
    SELECT * FROM v1 UNION ALL SELECT * FROM v2
    """


@register("dedup_incr_exact_indexed", _duck_incr_exact_indexed(), lifecycle=True)
def dedup_incr_exact_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-build EXACT-dedup admission against the persisted hash set —
    the exact-hash sibling of dedup_incr_near_indexed, completing the
    symmetry dedup_incremental_batch's design notes promise: build 1
    materializes the owned corpus's distinct-md5 table and admits
    batch 1 (first copy of each new hash is canonical, later batch
    copies are within-batch dups, history hits are cross-run dups; ALL
    of batch 1's new hashes append); build 2 scores batch 2 against the
    UPDATED table. One row per batch doc: (batch_id, doc_id, is_dup).

    The ADMISSION LOG is itself an owned artifact: each batch's
    verdicts append to ``<db>.verdicts`` exactly once (the per-batch
    ledger), so re-running the query replays the log instead of
    re-scoring a batch against state that now includes its own hashes —
    the idempotence contract an at-least-once orchestrator needs.

    Crash safety (ADVICE r7): the ledger is the WRITE-AHEAD record —
    it stores each verdict's hash ``h`` alongside the decision, and the
    hash-state append is an idempotent PROJECTION of the ledger
    (ledger rows -> new non-dup hashes, left_anti against the state
    table) that re-runs on EVERY invocation. A crash between the ledger
    commit and the hashes append therefore self-heals on replay instead
    of leaving the state table permanently missing the batch's hashes.

    Scale: admission is one left-anti-shaped hash probe per batch —
    (16-byte hash, id) rows only, payload pruned at the scan; the state
    table grows O(distinct corpus) and at cluster scale is bucketed on
    h (or fronted by a bloom filter) so batches shuffle only
    themselves; the verdict log appends batch-sized increments.
    """
    from pyspark.sql import Window as W

    from ..catalog import catalog_lock

    from .index_store import ensure_tables

    db = _exact_index_db(sf_dir)
    build_exact_dup_index(spark, sf_dir)

    def _build_empty_ledger() -> None:
        local_rows_df(spark, 
            [], "batch_id int, doc_id bigint, is_dup boolean, h string"
        ).write.format("parquet").saveAsTable(f"{db}.verdicts")

    with catalog_lock:
        # Round-7 driver-bench crash fix: the old bootstrap checked only
        # the catalog then ran a bare saveAsTable, so a fresh session
        # over a warm warehouse died with LOCATION_ALREADY_EXISTS. The
        # shared helper adopts the persisted ledger instead; the column
        # contract also migrates pre-round-8 ledgers (no ``h`` column —
        # unrepairable, so cleared and re-admitted from scratch).
        ensure_tables(
            spark,
            db,
            ("verdicts",),
            _build_empty_ledger,
            expect={"verdicts": ("batch_id", "doc_id", "is_dup", "h")},
        )
    for bid, mod in ((0, INCR_IDX_BATCH1), (1, INCR_IDX_BATCH2)):
        with catalog_lock:
            done = not (
                spark.table(f"{db}.verdicts")
                .filter(F.col("batch_id") == bid)
                .isEmpty()
            )
            if not done:
                batch = (
                    _docs(spark, sf_dir)
                    .filter(F.col("doc_id") % INCR_NEAR_MOD == mod)
                    .select("doc_id", F.md5("text").alias("h"))
                )
                idx = spark.table(f"{db}.hashes").select(
                    F.col("h").alias("ih")
                )
                verdicts = (
                    batch.join(idx, batch.h == F.col("ih"), "left")
                    .withColumn(
                        "rk",
                        F.row_number().over(
                            W.partitionBy("h").orderBy("doc_id")
                        ),
                    )
                    .select(
                        F.lit(bid).cast("int").alias("batch_id"),
                        "doc_id",
                        (F.col("ih").isNotNull() | (F.col("rk") > 1)).alias(
                            "is_dup"
                        ),
                        "h",
                    )
                    # truncate lineage BEFORE the appends below
                    # invalidate the plan's table reads (same hazard as
                    # _admit_batch_df)
                    .localCheckpoint(eager=True)
                )
                verdicts.write.format("parquet").mode("append").saveAsTable(
                    f"{db}.verdicts"
                )
                spark.catalog.refreshTable(f"{db}.verdicts")
            # Idempotent ledger->hashes projection, run on EVERY
            # invocation (done or not): appends the batch's admitted
            # hashes that the state table doesn't hold yet — a no-op
            # via left_anti once complete, a repair after a crash
            # between the ledger commit and this append (ADVICE r7).
            # NULL h (unhashable NULL-text doc) is excluded: it can
            # never match a probe, and left_anti can't dedup it.
            (
                spark.table(f"{db}.verdicts")
                .filter(
                    (F.col("batch_id") == bid)
                    & ~F.col("is_dup")
                    & F.col("h").isNotNull()
                )
                .select("h")
                .distinct()
                .join(spark.table(f"{db}.hashes"), "h", "left_anti")
                .write.format("parquet")
                .mode("append")
                .saveAsTable(f"{db}.hashes")
            )
            spark.catalog.refreshTable(f"{db}.hashes")
    return (
        spark.table(f"{db}.verdicts")
        .filter(F.col("batch_id").isin(0, 1))
        .select("batch_id", "doc_id", "is_dup")
    )


def _reset_layered_pair(
    spark: SparkSession,
    base_db: str,
    delta_db: str,
    build_base,
    delta_schemas: dict[str, str],
    pollution_probe,
    depollute=None,
) -> None:
    """Deterministic per-run bootstrap for the AUTO-COMPACTED demo
    queries: auto-compaction MUTATES the base by design (the fold is
    the point), so a previous run's fold leaves batch rows in the
    dedicated base — detected by ``pollution_probe(base_db) -> bool``
    and answered (round 12, guide §6) by a HARDLINK RESTORE from the
    ``_pristine`` snapshot taken the first time the base was verified
    clean — zero Spark write jobs, riding the staged-commit crash
    machinery (:func:`index_store.restore_snapshot`) — falling back to
    ``depollute(base_db)`` when given (a filter-rewrite that subtracts
    the folded batch rows) or a clear-and-rebuild otherwise; the delta
    resets per run like the streaming gates' scratch overlays.
    Production never does this reset — it keeps folding forward; the
    demo needs replay determinism for its oracle.

    WHEN the probe runs: only when ``build_base()`` reused (or adopted)
    an existing base, or when ``recover_staged`` finished an interrupted
    commit. A base this call has just built from the corpus holds no
    batch rows, so probing it would only spend Spark jobs.

    ORDER MATTERS: the probe runs AFTER ``build_base()``, not before —
    a fresh session's catalog is empty, but ``ensure_tables`` then
    ADOPTS the previous process's (possibly polluted) parquet by
    location, so probing first would miss cross-session pollution
    entirely and batch-1 docs would match THEMSELVES at jaccard 1.0
    (caught by the round-9 fresh-warehouse verify). The snapshot is
    retired whenever the base is (re)built (``drop_snapshot``), so a
    schema/code migration can never restore a stale pristine set."""
    from ..catalog import catalog_lock

    from .index_store import (
        clear_tables,
        drop_snapshot,
        recover_staged,
        reset_scratch,
        restore_snapshot,
        snapshot_tables,
    )

    base_tables = tuple(delta_schemas)
    with catalog_lock:
        built = build_base() == "built"  # adopt-or-build; may adopt polluted
        if built:
            drop_snapshot(spark, base_db)
        # finish any interrupted restore/depollute commit before probing
        recovered = recover_staged(spark, base_db, base_tables)
        if (recovered or not built) and pollution_probe(base_db):
            if not restore_snapshot(spark, base_db, base_tables):
                if depollute is not None:
                    depollute(base_db)
                else:
                    clear_tables(spark, base_db, base_tables)
                    build_base()
                    drop_snapshot(spark, base_db)
        # snapshot the now-verified-clean base (no-op once taken)
        snapshot_tables(spark, base_db, base_tables)
        reset_scratch(spark, delta_db, delta_schemas)


@register("dedup_near_auto_compacted", _duck_stream_admission(), lifecycle=True)
def dedup_near_auto_compacted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-batch near-dup admission with the SIZE-RATIO AUTO-COMPACTION
    firing between the batches (VERDICT r8 #4 made driver-checkable):
    batch 1 admits into the delta overlay, the low-ratio trigger folds
    the overlay into the base before batch 2 arrives, and batch 2 is
    scored against the compacted single-relation state. The oracle is
    the streaming gate's two-batch replay VERBATIM — folding must be
    invisible to every verdict, which is exactly what this row proves
    under the driver's hash check.

    The dedicated ``_ac`` pair resets per run (see
    :func:`_reset_layered_pair`): the fold mutates the base by design,
    so replay determinism requires rebuilding it — production keeps
    folding forward instead.

    Scale: identical read/write shape to the streaming gate, plus the
    fold (a delta-sized file move, no write job) amortized across the
    batches that triggered it; the trigger check itself is two
    parquet-footer row counts per admission, no Spark job.
    """
    from .index_store import staged_overwrite

    base_db = _near_index_db(sf_dir) + "_ac"
    delta_db = base_db + "d"

    def _depollute(db: str) -> None:
        # subtract the folded batch rows by doc_id — a crash-durable
        # filter-rewrite (~1-2s) instead of re-signaturing the corpus
        # (~10-15s at sf0.1): the owned split is identified by id alone
        for t in _NEAR_IDX_TABLES:
            staged_overwrite(
                spark,
                db,
                t,
                spark.table(f"{db}.{t}").filter(
                    F.col("doc_id") % INCR_NEAR_MOD >= INCR_IDX_BASE_MOD
                ),
            )

    _reset_layered_pair(
        spark,
        base_db,
        delta_db,
        lambda: build_near_dup_index(spark, sf_dir, db=base_db),
        _NEAR_IDX_DDL,
        lambda db: not spark.table(f"{db}.sigs")
        .filter(F.col("doc_id") % INCR_NEAR_MOD < INCR_IDX_BASE_MOD)
        .isEmpty(),
        depollute=_depollute,
    )
    out = []
    for bid, mod in ((0, INCR_IDX_BATCH1), (1, INCR_IDX_BATCH2)):
        batch = _docs(spark, sf_dir).filter(
            F.col("doc_id") % INCR_NEAR_MOD == mod
        )
        out.append(
            _admit_batch_df(
                spark,
                (base_db, delta_db),
                batch,
                write_db=delta_db,
                auto_compact_ratio=0.01,
            ).withColumn("batch_id", F.lit(bid).cast("int"))
        )
    return out[0].unionByName(out[1]).select(
        "batch_id", "new_id", "matched_doc", "jaccard", "is_near_dup"
    )


@register("dedup_exact_auto_compacted", _duck_incr_exact_indexed(), lifecycle=True)
def dedup_exact_auto_compacted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exact gate's auto-compacted sibling: two-batch hash
    admission with the low-ratio fold firing between the batches (the
    delta's hash files moved into the base), batch 2 probed against the
    compacted state. Oracle = the ledger gate's two-batch replay — the
    fold must be invisible, and the duplicate-tolerant probe keeps
    verdicts invariant even if a hash sits in both layers (pinned in
    test_exact_auto_compaction_and_duplicate_tolerance).
    """
    base_db = _exact_index_db(sf_dir) + "_ac"
    delta_db = base_db + "d"

    def _polluted(db: str) -> bool:
        batch_hashes = (
            _docs(spark, sf_dir)
            .filter(F.col("doc_id") % INCR_NEAR_MOD < INCR_IDX_BASE_MOD)
            .select(F.md5("text").alias("h"))
        )
        base_only = (
            _docs(spark, sf_dir)
            .filter(F.col("doc_id") % INCR_NEAR_MOD >= INCR_IDX_BASE_MOD)
            .select(F.md5("text").alias("h"))
        )
        return not (
            spark.table(f"{db}.hashes")
            .join(batch_hashes, "h", "left_semi")
            .join(base_only, "h", "left_anti")
            .isEmpty()
        )

    _reset_layered_pair(
        spark,
        base_db,
        delta_db,
        lambda: build_exact_dup_index(spark, sf_dir, db=base_db),
        {"hashes": "h string"},
        _polluted,
    )
    out = []
    for bid, mod in ((0, INCR_IDX_BATCH1), (1, INCR_IDX_BATCH2)):
        batch = _docs(spark, sf_dir).filter(
            F.col("doc_id") % INCR_NEAR_MOD == mod
        )
        out.append(
            _admit_exact_batch_df(
                spark,
                (base_db, delta_db),
                batch,
                write_db=delta_db,
                auto_compact_ratio=0.01,
            )
            .withColumn("batch_id", F.lit(bid).cast("int"))
            .select("batch_id", "doc_id", "is_dup")
        )
    return out[0].unionByName(out[1])


INCR_IDX_FORGET = 3  # doc_id % 7 == 3 -> the owned slice the forget query erases


def _duck_index_forget() -> str:
    """Oracle for the forget query: batch 1 scored against the owned
    corpus MINUS the erased slice — tombstoned docs must be invisible
    to candidate generation AND to best-match scoring."""
    j = (
        "round(CAST(len(list_intersect(x.hs, y.hs)) AS DOUBLE) /"
        " (len(x.hs) + len(y.hs) - len(list_intersect(x.hs, y.hs))), 4)"
    )
    return _duck_minhash_prefix() + f""", candf AS (
      SELECT DISTINCT n.doc_id AS new_id, i.doc_id AS idx_id
      FROM long n JOIN long i ON n.band = i.band AND n.key = i.key
      WHERE n.doc_id % {INCR_NEAR_MOD} = {INCR_IDX_BATCH1}
        AND i.doc_id % {INCR_NEAR_MOD} >= {INCR_IDX_BASE_MOD}
        AND i.doc_id % {INCR_NEAR_MOD} <> {INCR_IDX_FORGET}
    ), verf AS (
      SELECT c.new_id, c.idx_id, {j} AS jaccard
      FROM candf c JOIN hx x ON x.doc_id = c.new_id
                   JOIN hx y ON y.doc_id = c.idx_id
    ), bestf AS (
      SELECT new_id, idx_id, jaccard,
             row_number() OVER (PARTITION BY new_id
               ORDER BY jaccard DESC, idx_id) AS rk
      FROM verf
    )
    SELECT d.doc_id AS new_id, b.idx_id AS matched_doc, b.jaccard,
           coalesce(b.jaccard >= {JACCARD_THRESHOLD}, false) AS is_near_dup
    FROM documents d
    LEFT JOIN (SELECT * FROM bestf WHERE rk = 1) b ON b.new_id = d.doc_id
    WHERE d.doc_id % {INCR_NEAR_MOD} = {INCR_IDX_BATCH1}
    """


@register("dedup_index_forget", _duck_index_forget(), lifecycle=True)
def dedup_index_forget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Targeted erasure E2E over the persisted near-dup index: build (or
    adopt) a dedicated index over the owned corpus, FORGET the
    ``doc_id % {INCR_NEAR_MOD} == {INCR_IDX_FORGET}`` slice
    (tombstone append — the base is not rewritten), then score batch 1
    against the index. Erased docs must be invisible: a batch doc whose
    only near-match was forgotten now reports its next-best match (or
    no match) — exactly what the oracle states by excluding the slice
    from the index side.

    The index lives in its own ``_fg``-suffixed database so the
    erasure state never contaminates dedup_incr_near_indexed's shared
    artifact; repeat invocations re-apply the same forget set
    idempotently (left_anti append of zero new rows) and hit the
    bootstrap's 'reused' path.

    Scale: forget cost is O(|forgotten|) appends + a broadcast
    anti-join on every subsequent probe until compaction folds the
    tombstones into the base rewrite (index_store.fold_tombstones) —
    the Iceberg delete-file lifecycle for curated-corpus state.
    """
    from .index_store import forget

    db = _near_index_db(sf_dir) + "_fg"
    build_near_dup_index(spark, sf_dir, db=db)
    erase = (
        _docs(spark, sf_dir)
        .filter(F.col("doc_id") % INCR_NEAR_MOD == INCR_IDX_FORGET)
        .select("doc_id")
    )
    forget(spark, db, "doc_id", erase)
    batch1 = _docs(spark, sf_dir).filter(
        F.col("doc_id") % INCR_NEAR_MOD == INCR_IDX_BATCH1
    )
    return _score_batch_vs_index(
        spark, db, _doc_signatures(batch1), anchor_docs=batch1
    )


NEAR_FORGET_WAVE2 = 4  # doc_id % 7 == 4 -> the second streamed erasure wave


def _duck_stream_forget() -> str:
    """Oracle: the probe batch scored twice against the owned index
    with PROGRESSIVELY larger erased sets — after wave 1 the
    {INCR_IDX_FORGET} slice is invisible; after wave 2 the
    {NEAR_FORGET_WAVE2} slice is too."""
    j = (
        "round(CAST(len(list_intersect(x.hs, y.hs)) AS DOUBLE) /"
        " (len(x.hs) + len(y.hs) - len(list_intersect(x.hs, y.hs))), 4)"
    )
    waves = [
        f"AND i.doc_id % {INCR_NEAR_MOD} <> {INCR_IDX_FORGET}",
        f"AND i.doc_id % {INCR_NEAR_MOD} NOT IN "
        f"({INCR_IDX_FORGET}, {NEAR_FORGET_WAVE2})",
    ]
    ctes, selects = [], []
    for b, w in enumerate(waves):
        ctes.append(f"""cand{b} AS (
      SELECT DISTINCT n.doc_id AS new_id, i.doc_id AS idx_id
      FROM long n JOIN long i ON n.band = i.band AND n.key = i.key
      WHERE n.doc_id % {INCR_NEAR_MOD} = {INCR_IDX_BATCH1}
        AND i.doc_id % {INCR_NEAR_MOD} >= {INCR_IDX_BASE_MOD}
        {w}
    ), ver{b} AS (
      SELECT c.new_id, c.idx_id, {j} AS jaccard
      FROM cand{b} c JOIN hx x ON x.doc_id = c.new_id
                     JOIN hx y ON y.doc_id = c.idx_id
    ), best{b} AS (
      SELECT new_id, idx_id, jaccard,
             row_number() OVER (PARTITION BY new_id
               ORDER BY jaccard DESC, idx_id) AS rk
      FROM ver{b}
    )""")
        selects.append(f"""(
      SELECT {b} AS batch_id, d.doc_id AS new_id, bt.idx_id AS matched_doc,
             bt.jaccard,
             coalesce(bt.jaccard >= {JACCARD_THRESHOLD}, false) AS is_near_dup
      FROM documents d
      LEFT JOIN (SELECT * FROM best{b} WHERE rk = 1) bt
        ON bt.new_id = d.doc_id
      WHERE d.doc_id % {INCR_NEAR_MOD} = {INCR_IDX_BATCH1}
    )""")
    return (
        _duck_minhash_prefix()
        + ", "
        + ",\n    ".join(ctes)
        + "\n"
        + " UNION ALL ".join(selects)
    )


@register("stream_near_dup_forget", _duck_stream_forget(), lifecycle=True)
def stream_near_dup_forget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING ERASURE — right-to-be-forgotten requests arriving as
    micro-batches against the persisted near-dup index, with serving
    between the waves: each foreachBatch appends the wave's doc_ids to
    the tombstone set (:func:`index_store.forget`, O(|wave|)), then
    the fixed probe batch is scored IMMEDIATELY — proving each wave's
    docs are invisible before the next wave lands, the erasure-latency
    guarantee the batch forget query can't state. Emits both waves'
    verdicts tagged (batch_id, new_id, matched_doc, jaccard,
    is_near_dup); the oracle scores against progressively larger
    erased sets.

    Dedicated ``_fgs`` index (owned corpus, shared bootstrap); the
    TOMBSTONE set is per-run stream state and resets at query start
    (``index_store.reset_scratch``) — the same scratch discipline as the
    admission gates' delta overlays, and the reason repeat runs replay
    deterministically. The base itself is never rewritten here; folding
    erasures into the base is ``index_store.fold_tombstones``'s
    maintenance job.

    Scale: per wave, one tombstone append + one probe-batch scoring
    pass through the broadcast anti-join — erasure latency is
    O(|wave|) regardless of index size; verdicts are sink-written,
    never collected.
    """
    from .index_store import forget, reset_scratch

    db = _near_index_db(sf_dir) + "_fgs"
    build_near_dup_index(spark, sf_dir, db=db)
    reset_scratch(spark, db, {"tombstones": "doc_id bigint"})
    staged = _stage_doc_waves(
        spark, sf_dir, "forget_arrivals", (INCR_IDX_FORGET, NEAR_FORGET_WAVE2), "doc_id"
    )
    out_dir = scratch_dir(
        "forget_verdicts", sf_dir, ("documents.parquet",), fresh=True
    )
    probe = _docs(spark, sf_dir).filter(
        F.col("doc_id") % INCR_NEAR_MOD == INCR_IDX_BATCH1
    )

    def _on_batch(batch_df: DataFrame) -> DataFrame:
        forget(spark, db, "doc_id", batch_df.select("doc_id"))
        return _score_batch_vs_index(
            spark, db, _doc_signatures(probe), anchor_docs=probe
        ).select("new_id", "matched_doc", "jaccard", "is_near_dup")

    return stream_batches(spark, staged, _on_batch, out_dir)


@register(
    "pipeline_incremental_admission",
    f"""
    SELECT ex.doc_id,
           ex.is_dup AS exact_dup,
           nr.is_near_dup AS near_dup,
           nr.matched_doc,
           (NOT ex.is_dup AND NOT nr.is_near_dup) AS admitted
    FROM ({_duck_incr_exact_indexed()}) ex
    JOIN ({_duck_incr_indexed()}) nr ON nr.new_id = ex.doc_id
    WHERE ex.batch_id = 1
    """,
    lifecycle=True,
)
def pipeline_incremental_admission(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-7 theme composed end-to-end: batch-2 documents pass
    BOTH persisted admission gates — the exact-hash ledger (cheap, runs
    first in production) and the near-dup LSH index — and a doc is
    admitted to the corpus only if neither flags it. One row per batch-2
    doc: (doc_id, exact_dup, near_dup, matched_doc, admitted) — the
    audit record a continuous-ingestion pipeline emits per batch.

    Oracles compose by construction: this oracle embeds the two
    registered gate oracles as subqueries, so the audit can never
    drift from the gates (the funnel pattern). Scale: cost = the two
    gates (both index-probe-shaped, state persisted) + one batch-sized
    join on doc_id.
    """
    ex = (
        dedup_incr_exact_indexed(spark, sf_dir)
        .filter(F.col("batch_id") == 1)
        .select("doc_id", F.col("is_dup").alias("exact_dup"))
    )
    nr = dedup_incr_near_indexed(spark, sf_dir).select(
        F.col("new_id").alias("doc_id"),
        F.col("is_near_dup").alias("near_dup"),
        "matched_doc",
    )
    return ex.join(nr, "doc_id").select(
        "doc_id",
        "exact_dup",
        "near_dup",
        "matched_doc",
        (~F.col("exact_dup") & ~F.col("near_dup")).alias("admitted"),
    )


# -- streaming EXACT-hash admission (the ledger's foreachBatch sibling) ------


def _admit_exact_batch_df(
    spark: SparkSession,
    dbs: tuple[str, str],
    batch_docs: DataFrame,
    write_db: str,
    auto_compact_ratio: float | None = None,
) -> DataFrame:
    """Exact-admission core for one micro-batch: hash ``batch_docs``,
    probe the layered hash state (base UNION delta), mark history hits
    and within-batch later copies as dups, APPEND the batch's new
    hashes to ``write_db``, and return the verdict frame
    (doc_id, is_dup, h) — one row per batch doc, no drops.

    Only hashes absent from base UNION delta are appended, under the
    same lease the fold takes, so the layers stay disjoint and the fold
    (:func:`index_store.fold_delta`) is a plain file move.

    DUPLICATE-TOLERANT probe (round 9): the within-batch rank is
    computed on the batch ALONE, and state membership is a left-SEMI
    join — so a hash present in BOTH layers (state written outside this
    protocol) still yields exactly one verdict row per doc. The old
    left-join form duplicated verdict rows and inflated the rank
    whenever the state held a duplicate. Both joins stay batch-sized on
    the output side.

    ``auto_compact_ratio`` (opt-in): after the append, run the
    :func:`index_store.maybe_fold_delta` size-ratio trigger — the same
    LSM policy as the near-dup gate; callers sharing an immutable base
    leave it off.

    Same cache-invalidation hazard as _admit_batch_df: the verdicts
    plan READS the hash tables the append below WRITES, so the frame is
    localCheckpoint-ed (lineage truncated to materialized blocks)
    BEFORE the append — otherwise a later action would silently
    re-probe the post-append state and every admitted doc would match
    its own hash."""
    from pyspark.sql import Window as W

    # lease on the BASE layer (same key as the fold), held across the
    # probe + append: a cross-process maintainer can neither fold this
    # delta between probe and append nor swap the state tables out from
    # under the probe scan (see _admit_batch_df)
    from .index_store import maybe_fold_delta
    from .lease import maintenance_lease

    with maintenance_lease(spark, dbs[0]) as lease:
        for db in dbs:
            spark.catalog.refreshTable(f"{db}.hashes")
        batch = batch_docs.select("doc_id", F.md5("text").alias("h"))
        state = None
        for db in dbs:
            t = spark.table(f"{db}.hashes").select("h")
            state = t if state is None else state.unionByName(t)
        ranked = batch.withColumn(
            "rk", F.row_number().over(W.partitionBy("h").orderBy("doc_id"))
        )
        hit = (
            batch.join(state, "h", "left_semi")
            .select("doc_id")
            .withColumn("hit", F.lit(True))
        )
        verdicts = (
            ranked.join(hit, "doc_id", "left")
            .select(
                "doc_id",
                (
                    F.coalesce(F.col("hit"), F.lit(False)) | (F.col("rk") > 1)
                ).alias("is_dup"),
                "h",
            )
            .localCheckpoint(eager=True)
        )
        # ADVICE r10: the probe may outlast the lease TTL — renew (which
        # raises if the lease was stolen mid-probe) and fence before the
        # append, so a long batch can never silently lose the lease and
        # append into a delta a stolen-lease fold is about to move.
        lease.renew()
        lease.check()
        (
            verdicts.filter(~F.col("is_dup") & F.col("h").isNotNull())
            .select("h")
            .distinct()
            .write.format("parquet")
            .mode("append")
            .saveAsTable(f"{write_db}.hashes")
        )
        spark.catalog.refreshTable(f"{write_db}.hashes")
        if (
            auto_compact_ratio is not None
            and len(dbs) == 2
            and write_db == dbs[1]
        ):
            maybe_fold_delta(
                spark, dbs[0], dbs[1], ("hashes",), auto_compact_ratio
            )
    return verdicts


@register(
    "stream_exact_admission",
    # the streamed two-batch replay admits exactly like the batch
    # ledger gate: micro-batch 0 = the b0 arrival file, 1 = b1 — the
    # registered batch oracle states the identical update sequence
    _duck_incr_exact_indexed(),
    lifecycle=True,
)
def stream_exact_admission(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONTINUOUS ingestion through the EXACT-dedup gate — the
    foreachBatch sibling of stream_near_dup_admission, completing the
    streaming story for both persisted admission gates: a document file
    stream (two staged arrival files = two micro-batches in pinned
    mtime order) is hashed per batch, probed against the CURRENT
    layered hash state (immutable base + per-run delta), verdicts land
    in a parquet sink, and the batch's new hashes are APPENDED to the
    delta before the next batch fires — so a batch-2 copy of a batch-1
    doc is a cross-batch dup, exactly as the batch ledger gate scores
    it. Emits (batch_id, doc_id, is_dup), one row per streamed doc.

    Layering mirrors the near-dup stream: the BASE hash set is
    built/adopted once via the shared index_store bootstrap and never
    written by the stream; admissions land in a per-run DELTA scratch
    overlay (emptied or created each invocation), so repeat runs
    are deterministic and never contaminate the batch gate's ledger
    state.

    Scale: per-batch work is one (16-byte hash, id) left-join probe
    against bucketed state plus a batch-sized append — the cheapest
    admission gate a 100 TB pipeline runs, which is why it fronts the
    near-dup gate in pipeline_incremental_admission's production
    ordering. Verdicts are WRITTEN (parquet sink), never collected.
    """
    from .index_store import reset_scratch

    base_db = _exact_index_db(sf_dir) + "_sbase"
    delta_db = _exact_index_db(sf_dir) + "_sdelta"
    staged = _stage_doc_waves(
        spark, sf_dir, "docs_arrivals", (INCR_IDX_BATCH1, INCR_IDX_BATCH2)
    )
    build_exact_dup_index(spark, sf_dir, db=base_db)
    reset_scratch(spark, delta_db, {"hashes": "h string"})

    # deterministic fingerprint-keyed sink, cleared at run start: the
    # prior run's directory is reused in place instead of leaking one
    # uuid-named dir per invocation (ADVICE r8)
    out_dir = scratch_dir(
        "exact_verdicts", sf_dir, ("documents.parquet",), fresh=True
    )

    def _on_batch(batch_df: DataFrame) -> DataFrame:
        return _admit_exact_batch_df(
            spark, (base_db, delta_db), batch_df, write_db=delta_db
        ).select("doc_id", "is_dup")

    return stream_batches(spark, staged, _on_batch, out_dir)


# -- targeted erasure for the EXACT gate (doc-level hash state) --------------


def _build_doc_hashes(spark: SparkSession, sf_dir: str, db: str) -> str:
    """Build or adopt ``<db>.doc_hashes`` (doc_id, h) over the owned
    corpus — the erasable exact state, shared bootstrap."""
    from .index_store import ensure_tables

    def _build() -> None:
        (
            _docs(spark, sf_dir)
            .filter(F.col("doc_id") % INCR_NEAR_MOD >= INCR_IDX_BASE_MOD)
            .select("doc_id", F.md5("text").alias("h"))
            .write.format("parquet")
            .mode("overwrite")
            .saveAsTable(f"{db}.doc_hashes")
        )

    return ensure_tables(
        spark, db, ("doc_hashes",), _build, expect={"doc_hashes": ("doc_id", "h")}
    )


def _duck_exact_forget() -> str:
    return f"""
    WITH hx AS (SELECT doc_id, md5(text) AS h FROM documents),
    live AS (
      SELECT DISTINCT h FROM hx
      WHERE doc_id % {INCR_NEAR_MOD} >= {INCR_IDX_BASE_MOD}
        AND doc_id % {INCR_NEAR_MOD} <> {INCR_IDX_FORGET}
    ), b1 AS (
      SELECT doc_id, h FROM hx WHERE doc_id % {INCR_NEAR_MOD} = {INCR_IDX_BATCH1}
    )
    SELECT b1.doc_id,
           (live.h IS NOT NULL
            OR row_number() OVER (PARTITION BY b1.h ORDER BY b1.doc_id) > 1)
             AS is_dup
    FROM b1 LEFT JOIN live ON live.h = b1.h
    """


@register("dedup_exact_forget", _duck_exact_forget(), lifecycle=True)
def dedup_exact_forget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Targeted erasure for the EXACT-dedup gate — the boundary
    dedup_incr_exact_indexed can't cross: its state is a bare
    distinct-hash set, and a hash may be SHARED by other living docs,
    so erasing by doc_id needs doc-level state. This gate keeps
    ``<db>.doc_hashes`` (doc_id, h) — the implicit-refcount shape: a
    hash leaves the probe set only when its LAST living holder is
    forgotten — plus the same doc_id tombstone overlay as the near-dup
    index (:func:`index_store.forget`, fold at compaction).

    The query erases the ``doc_id % {INCR_NEAR_MOD} ==
    {INCR_IDX_FORGET}`` slice of the owned corpus, then scores batch 1:
    a batch doc whose text survives ONLY in erased docs is now novel
    (is_dup=false); one whose hash is also held by a living doc stays
    a dup — exactly what the oracle states. One row per batch doc:
    (doc_id, is_dup).

    Scale: state is (16-byte hash, id) rows — doc-level rather than the
    plain gate's distinct-hash set, the storage price of erasability;
    probes add one broadcast anti-join (measured ~free, SCALE.md
    round-8 erasure scaling); the probe-set distinct is computed per batch from
    the bucketed doc_hashes relation, at 100 TB a partial-agg over the
    probe's semi-joined partitions only.
    """
    from .index_store import forget

    db = _exact_index_db(sf_dir) + "_fg"
    _build_doc_hashes(spark, sf_dir, db)
    erase = (
        _docs(spark, sf_dir)
        .filter(F.col("doc_id") % INCR_NEAR_MOD == INCR_IDX_FORGET)
        .select("doc_id")
    )
    forget(spark, db, "doc_id", erase)
    batch = _docs(spark, sf_dir).filter(
        F.col("doc_id") % INCR_NEAR_MOD == INCR_IDX_BATCH1
    )
    return _score_batch_vs_doc_hashes(spark, db, batch)


def _score_batch_vs_doc_hashes(
    spark: SparkSession, db: str, batch_docs: DataFrame
) -> DataFrame:
    """Score a batch against the doc-level hash state minus its
    tombstones: (doc_id, is_dup), one row per batch doc — history hits
    against LIVING holders plus within-batch later copies. Shared by
    the batch forget gate and its streaming sibling."""
    from pyspark.sql import Window as W

    from .index_store import read_live

    (live,) = read_live(spark, db, ("doc_hashes",), "doc_id")
    probe = live.select("h").distinct().withColumnRenamed("h", "ih")
    batch = batch_docs.select("doc_id", F.md5("text").alias("h"))
    return (
        batch.join(probe, batch.h == F.col("ih"), "left")
        .withColumn(
            "rk", F.row_number().over(W.partitionBy("h").orderBy("doc_id"))
        )
        .select(
            "doc_id",
            (F.col("ih").isNotNull() | (F.col("rk") > 1)).alias("is_dup"),
        )
    )


def _duck_stream_exact_forget() -> str:
    """Oracle: the probe batch scored twice against the doc-level hash
    state with progressively larger erased sets — the implicit-refcount
    semantics (a hash leaves only when its last living holder is
    erased) hold per wave."""
    waves = [
        f"AND doc_id % {INCR_NEAR_MOD} <> {INCR_IDX_FORGET}",
        f"AND doc_id % {INCR_NEAR_MOD} NOT IN "
        f"({INCR_IDX_FORGET}, {NEAR_FORGET_WAVE2})",
    ]
    selects = []
    for b, w in enumerate(waves):
        selects.append(f"""(
      WITH live{b} AS (
        SELECT DISTINCT h FROM hx
        WHERE doc_id % {INCR_NEAR_MOD} >= {INCR_IDX_BASE_MOD}
          {w}
      )
      SELECT {b} AS batch_id, b1.doc_id,
             (live{b}.h IS NOT NULL
              OR row_number() OVER (PARTITION BY b1.h ORDER BY b1.doc_id) > 1)
               AS is_dup
      FROM b1 LEFT JOIN live{b} ON live{b}.h = b1.h
    )""")
    return f"""
    WITH hx AS (SELECT doc_id, md5(text) AS h FROM documents),
    b1 AS (
      SELECT doc_id, h FROM hx
      WHERE doc_id % {INCR_NEAR_MOD} = {INCR_IDX_BATCH1}
    )
    """ + " UNION ALL ".join(selects)


@register("stream_exact_forget", _duck_stream_exact_forget(), lifecycle=True)
def stream_exact_forget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING ERASURE for the exact gate — the doc-level sibling of
    stream_near_dup_forget, extending erasure-as-a-stream to the second
    index family: forget waves arrive as micro-batches, each wave's
    doc_ids join the tombstone overlay over the ``doc_hashes``
    (implicit-refcount) state, and the fixed probe batch is re-scored
    between waves — a probe doc whose text survives ONLY in erased docs
    flips to novel the moment its last living holder's wave lands,
    while a hash shared with any living doc stays a dup. Emits
    (batch_id, doc_id, is_dup) per wave.

    Dedicated ``_fgx`` doc-hash state (shared bootstrap); tombstones
    are per-run stream state, reset at query start like the near-dup
    sibling. Scale: per wave, one O(|wave|) tombstone append + a
    batch-sized probe through a broadcast anti-join + a probe-set
    distinct over the semi-joined partitions.
    """
    from .index_store import forget, reset_scratch

    db = _exact_index_db(sf_dir) + "_fgx"
    _build_doc_hashes(spark, sf_dir, db)
    reset_scratch(spark, db, {"tombstones": "doc_id bigint"})
    staged = _stage_doc_waves(
        spark, sf_dir, "forget_arrivals", (INCR_IDX_FORGET, NEAR_FORGET_WAVE2), "doc_id"
    )
    out_dir = scratch_dir(
        "exact_forget_verdicts", sf_dir, ("documents.parquet",), fresh=True
    )
    probe = _docs(spark, sf_dir).filter(
        F.col("doc_id") % INCR_NEAR_MOD == INCR_IDX_BATCH1
    )

    def _on_batch(batch_df: DataFrame) -> DataFrame:
        forget(spark, db, "doc_id", batch_df.select("doc_id"))
        return _score_batch_vs_doc_hashes(spark, db, probe)

    return stream_batches(spark, staged, _on_batch, out_dir)


# -- LSH operational diagnostics: bucket skew / candidate-pair budget --------

HOT_BUCKET_THRESHOLD = 8  # bucket size that marks an LSH hot spot


def _duck_lsh_bucket_stats() -> str:
    return _duck_minhash_prefix() + f""", bk AS (
      SELECT band, key, count(*) AS sz FROM long GROUP BY band, key
    )
    SELECT band,
           count(*) AS n_buckets,
           CAST(sum(sz) AS BIGINT) AS n_rows,
           CAST(max(sz) AS BIGINT) AS max_bucket,
           CAST(sum(CASE WHEN sz >= {HOT_BUCKET_THRESHOLD} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_hot,
           CAST(sum(sz * (sz - 1) // 2) AS BIGINT) AS pairs_bound,
           round(CAST(sum(sz) AS DOUBLE) / count(*), 4) AS avg_bucket
    FROM bk GROUP BY band
    """


@register("dedup_lsh_bucket_stats", _duck_lsh_bucket_stats())
def dedup_lsh_bucket_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH capacity planning — the diagnostic that predicts the
    candidate-join blowup BEFORE paying for it: per band, the bucket
    count, row count, max/avg bucket size, hot-bucket count (size >=
    {HOT_BUCKET_THRESHOLD}), and ``pairs_bound`` = sum over buckets of
    C(size, 2) — the EXACT number of candidate pairs the band
    contributes to the LSH self-join. Bucket skew is THE failure mode
    of banded LSH at scale (boilerplate text collapses into mega-
    buckets whose pair count is quadratic); this report is what an
    operator reads before scheduling a dedup pass, and its hot-bucket
    count is the trigger for the standard mitigations (bucket-size
    caps, salting the shingle space, or dropping stop-shingles).

    Scale: one signature pass + one (band, key) count — a partial-agg
    shuffle of (band, key) rows; the report itself is
    {N_BANDS}-row. No pair is ever materialized; pairs_bound is
    computed from bucket sizes alone, which is the entire point.
    """
    sigs = _doc_signatures(_docs(spark, sf_dir))
    buckets = (
        _band_long(sigs)
        .groupBy("band", "key")
        .agg(F.count(F.lit(1)).alias("sz"))
    )
    return buckets.groupBy("band").agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.sum("sz").cast("bigint").alias("n_rows"),
        F.max("sz").cast("bigint").alias("max_bucket"),
        F.sum(
            F.when(F.col("sz") >= HOT_BUCKET_THRESHOLD, 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_hot"),
        # DIV keeps the arithmetic in exact bigint integer division —
        # Spark's `/` is double division, which loses exactness above
        # ~2^53/2 pairs: precisely the mega-bucket regime this report
        # exists to flag (the DuckDB oracle uses integer `//`).
        F.sum(F.expr("sz * (sz - 1) DIV 2"))
        .cast("bigint")
        .alias("pairs_bound"),
        F.round(
            F.sum("sz").cast("double") / F.count(F.lit(1)), 4
        ).alias("avg_bucket"),
    )


# -- capped LSH candidate generation (the hot-bucket mitigation) -------------

BUCKET_CAP = 8  # buckets at/above this size are excluded from pairing


def _duck_minhash_capped() -> str:
    return _duck_minhash_prefix() + f""", okbk AS (
      SELECT band, key FROM long GROUP BY band, key
      HAVING count(*) < {BUCKET_CAP}
    ), longc AS (
      SELECT l.* FROM long l JOIN okbk USING (band, key)
    ), cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM longc a JOIN longc b
        ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
    ), verified AS (
      SELECT c.doc_a, c.doc_b,
             round(CAST(len(list_intersect(x.hs, y.hs)) AS DOUBLE) /
                   (len(x.hs) + len(y.hs) - len(list_intersect(x.hs, y.hs))), 4)
               AS jaccard
      FROM cand c JOIN hx x ON x.doc_id = c.doc_a
                  JOIN hx y ON y.doc_id = c.doc_b
    )
    SELECT doc_a, doc_b, jaccard FROM verified
    WHERE jaccard >= {JACCARD_THRESHOLD}
    """


@register("dedup_minhash_capped", _duck_minhash_capped())
def dedup_minhash_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket-capped LSH near-dup pairs — the mitigation
    dedup_lsh_bucket_stats' hot-bucket report triggers: buckets at or
    above {BUCKET_CAP} rows are EXCLUDED from candidate generation
    before the self-join, bounding every bucket's pair contribution at
    C({BUCKET_CAP}-1, 2) and therefore the whole join at
    O(#buckets x cap^2) regardless of skew. The standard trade every
    production LSH dedup makes (a doc pair sharing ONLY mega-buckets is
    missed; with {N_BANDS} independent bands a true near-dup pair
    almost surely shares a small bucket too — the banding theorem does
    the recall work).

    Same verified-pair output contract as dedup_minhash_pairs, so the
    two queries diff cleanly: rows present there but missing here are
    exactly the pairs whose every shared bucket was hot.

    Scale: the cap check is one (band, key) count — the same partial
    agg dedup_lsh_bucket_stats runs — semi-joined back onto the long
    form before pairing; no mega-bucket ever reaches the join, which is
    the entire point (a single million-row boilerplate bucket would
    otherwise contribute 5e11 candidate pairs).
    """
    sigs = _doc_signatures(_docs(spark, sf_dir))
    sigs.persist()
    try:
        long = _band_long(sigs)
        ok = (
            long.groupBy("band", "key")
            .agg(F.count(F.lit(1)).alias("sz"))
            .filter(F.col("sz") < BUCKET_CAP)
            .select("band", "key")
        )
        longc = long.join(ok, ["band", "key"], "left_semi")
        cand = (
            longc.alias("a")
            .join(
                longc.alias("b"),
                on=[
                    F.col("a.band") == F.col("b.band"),
                    F.col("a.key") == F.col("b.key"),
                    F.col("a.doc_id") < F.col("b.doc_id"),
                ],
            )
            .select(
                F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
            )
            .distinct()
        )
        ha = sigs.select(F.col("doc_id").alias("doc_a"), F.col("hs").alias("ha"))
        hb = sigs.select(F.col("doc_id").alias("doc_b"), F.col("hs").alias("hb"))
        inter = F.size(F.array_intersect("ha", "hb"))
        union = F.size("ha") + F.size("hb") - inter
        return (
            cand.join(ha, "doc_a")
            .join(hb, "doc_b")
            .select(
                "doc_a",
                "doc_b",
                F.round(inter.cast("double") / union, 4).alias("jaccard"),
            )
            .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        )
    finally:
        sigs.unpersist()
