"""Similarity search over an embedding column (array<float>).

* :func:`ann_cosine_topk` — brute-force cosine top-k, the exactness baseline:
  broadcast the (small) query set against the corpus, dot products via
  ``zip_with``/``aggregate`` higher-order functions (JVM-side, no Python).
  At 10^12 scale the query side is always the broadcast side.
* :func:`ann_lsh_buckets` / :func:`embedding_neardup` — the scale path:
  banded random-hyperplane LSH (B bands × R planes, the same AND/OR
  construction the MinHash dedup uses). R derives from corpus size
  (:func:`lsh_planes_for`), so expected bucket occupancy stays ~constant as
  the corpus grows — the round-1 single-table 8-plane scheme had a FIXED
  256 buckets, making within-bucket work O(N²/256); here bucket count is
  B·2^R with R ~ log2(N/target), and a hard per-bucket occupancy cap
  (:data:`LSH_BUCKET_CAP`) bounds the self-join fan-out under adversarial
  skew (identical vectors): buckets overflow into deterministic sub-buckets
  of ≤cap rows, trading cross-sub-bucket recall for a hard O(cap²) bound
  per join key.
* :func:`ivf_assign` / :func:`ann_ivf_topk` — IVF coarse quantization with
  the centroid count derived from corpus size (~√N cells, the standard IVF
  sizing), so cells and centroid table grow in balance; round 1's fixed
  ``vec_id % 31`` rule made the "tiny broadcast" O(N).

Dot-product folds are ordered (aggregate folds left-to-right), so results are
deterministic at any parallelism; cosines are rounded to 4dp as part of the
output contract (FP summation order differs across engines).
"""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

#: Banded hyperplane LSH: B independent band tables (OR), R planes each (AND).
LSH_BANDS = 4
#: Target expected bucket occupancy — R = ceil(log2(n / target)).
LSH_TARGET_BUCKET = 32
#: Hard per-(band, code) occupancy cap: larger buckets split into
#: deterministic sub-buckets of ≤cap rows (bounded self-join work per key).
LSH_BUCKET_CAP = 128
#: Near-dup injection: every k-th vector re-appears under vec_id+offset.
VEC_DUP_OFFSET = 1_000_000
VEC_DUP_EVERY = 10
#: Brute-force demo: how many query vectors.
TOPK_QUERIES = 8
TOPK_K = 10


def _vecs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embeddings scan, widened: the table arrives as ONE file/task at
    test SFs, and every consumer stacks interpreted HOF arithmetic
    (cosine crossJoins, residual zip_with, sqdist folds) straight onto
    the scan stage — measured 1.3 s single-threaded for ivf_assign at
    sf0.1 vs ~0.1 s wide (the utf8-chain lesson, PERF.md). At 10^12
    vectors the scan is already wide → no-op check."""
    from ..pipeline import ensure_input_parallelism
    return ensure_input_parallelism(
        spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
        .select("vec_id", "embedding"))


#: (n_vecs, n_dups, dim) per sf_dir — the corpora are immutable test data.
_META_CACHE: dict[str, tuple[int, int, int]] = {}


def embeddings_meta(sf_dir: str) -> tuple[int, int, int]:
    """(n_vecs, n_dup_injections, dim) for sf_dir's embeddings table,
    computed DRIVER-SIDE from the parquet footer plus one vec_id column
    read — zero Spark jobs. Rounds 1–3 derived the LSH plane count / IVF
    centroid stride from ``vecs.count()`` per invocation: an extra full
    distributed scan per query. At 10^12 scale these numbers come from
    table-level statistics (an Iceberg snapshot summary); the footer read
    here plays that role, and the formulas consuming them
    (:func:`lsh_planes_for`, :func:`ivf_centroid_every`) stay
    twin-identical to the DuckDB oracles' scalar-subquery counts."""
    if sf_dir not in _META_CACHE:
        import pyarrow.parquet as pq
        pf = pq.ParquetFile(os.path.join(sf_dir, "embeddings.parquet"))
        n = pf.metadata.num_rows
        ids = pf.read(columns=["vec_id"]).column("vec_id").to_numpy()
        n_dups = int((ids % VEC_DUP_EVERY == 0).sum())
        first = next(pf.iter_batches(batch_size=1, columns=["embedding"]))
        dim = len(first.column(0)[0])
        _META_CACHE[sf_dir] = (n, n_dups, dim)
    return _META_CACHE[sf_dir]


def _dot(a: str, b: str):
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * "
        f"CAST(y AS DOUBLE)), 0D, (acc, v) -> acc + v)")


def _norm(a: str):
    return F.expr(
        f"sqrt(aggregate({a}, 0D, (acc, x) -> acc + CAST(x AS DOUBLE) * "
        f"CAST(x AS DOUBLE)))")


def cosine_col(a: str, b: str):
    return _dot(a, b) / (_norm(a) * _norm(b))


def ann_cosine_topk(spark: SparkSession, sf_dir: str,
                    n_queries: int = TOPK_QUERIES,
                    k: int = TOPK_K) -> DataFrame:
    """Brute-force cosine top-k: queries (vec_id < n_queries) vs the corpus.

    Broadcast the query side; rank by (cosine desc, vec_id) for determinism.
    Output: (query_id, rank, vec_id, cosine) — cosine rounded 4dp.
    """
    corpus = _vecs(spark, sf_dir)
    queries = (corpus.filter(F.col("vec_id") < n_queries)
               .select(F.col("vec_id").alias("query_id"),
                       F.col("embedding").alias("q")))
    scored = (corpus.crossJoin(F.broadcast(queries))
              .filter(F.col("vec_id") != F.col("query_id"))
              .select("query_id", "vec_id",
                      cosine_col("q", "embedding").alias("cos")))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("vec_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", F.col("rank").cast("long").alias("rank"),
                    "vec_id", F.round("cos", 4).alias("cosine")))


# ---------------------------------------------------------------------------
# Banded hyperplane LSH
# ---------------------------------------------------------------------------

def lsh_planes_for(n: int, target: int = LSH_TARGET_BUCKET) -> int:
    """Planes per band so expected occupancy ≈ target: ceil(log2(n/target)),
    floored at 4. MUST stay formula-identical to the DuckDB twin
    (entry_queries._lsh_params_cte)."""
    if n <= 0:
        return 4
    return max(4, math.ceil(math.log2(n / float(target))))


def _hyperplane_weight(band: int, p: int, d: int) -> float:
    """w = hexdigit(md5('band:p:d')) / 7.5 - 1 ∈ [-1, 1] — deterministic,
    no RNG; the band id in the seed makes the B band tables independent.
    Identical arithmetic to the DuckDB twin's strpos/md5 formula."""
    import hashlib
    digit = int(hashlib.md5(f"{band}:{p}:{d}".encode()).hexdigest()[0], 16)
    return digit / 7.5 - 1.0


def _plane_weights_df(spark: SparkSession, planes: int, dim: int,
                      bands: int = LSH_BANDS) -> DataFrame:
    """Broadcast dimension table (band, w: planes × dim weights).

    The weights are constant per (band, p, d) and precomputed driver-side
    (the earlier in-expression md5 derivation re-hashed per VECTOR per
    plane per dim — ~11M md5 calls for 5.5k 64-d vectors). Round 3 shipped
    them as literal arrays inside the SQL text, which cost ~2 s of driver
    expression build/parse PER CALL and bloated codegen on both sides of
    the candidate self-join; a B-row broadcast-joined table carries the
    same doubles as data — the shape a real deployment uses for learned
    projections too."""
    rows = [(b, [[_hyperplane_weight(b, p, d) for d in range(dim)]
                 for p in range(planes)])
            for b in range(bands)]
    return spark.createDataFrame(rows, "band int, w array<array<double>>")


def _band_code_expr(planes: int, vec: str = "embedding", w: str = "w"):
    """Per-band LSH code: bit p = sign of <w_{band,p}, x>, with the plane
    weights joined in as column ``w`` (array<array<double>>, planes × dim).
    zip_with products then a left-to-right fold give the same IEEE sum
    order as the DuckDB twin's list_sum/list_transform."""
    return F.expr(
        "aggregate(sequence(0, {pm}), 0L, (code, p) -> code + "
        "CASE WHEN aggregate(zip_with({v}, element_at({w}, p + 1), "
        "(x, wt) -> CAST(x AS DOUBLE) * wt), 0D, (acc, v) -> acc + v) > 0 "
        "THEN CAST(power(2, p) AS BIGINT) ELSE 0L END)".format(
            pm=planes - 1, v=vec, w=w))


def lsh_band_table(vecs: DataFrame, planes: int,
                   bands: int = LSH_BANDS,
                   cap: int = LSH_BUCKET_CAP,
                   dim: int | None = None) -> DataFrame:
    """(vec_id, embedding) → (vec_id, band, code, sub): B rows per vector.

    ``sub`` is the deterministic overflow split: within a (band, code)
    bucket, rows rank by vec_id and spill into sub-buckets of ≤cap — the
    join key is (band, code, sub), so per-key work is O(cap²) no matter how
    skewed the bucket (e.g. millions of identical vectors).
    """
    if dim is None:
        dim = vecs.select(F.size("embedding")).first()[0]
    wdf = _plane_weights_df(vecs.sparkSession, planes, dim, bands)
    banded = vecs.select(
        "vec_id",
        F.explode(F.expr(f"sequence(0, {bands - 1})")).alias("band"),
        "embedding",
    ).join(F.broadcast(wdf), "band").select(
        "vec_id", "band", _band_code_expr(planes).alias("code"))
    w = Window.partitionBy("band", "code").orderBy("vec_id")
    return banded.withColumn(
        "sub", ((F.row_number().over(w) - 1) / cap).cast("long"))


def ann_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH index build: per-(band, bucket) population (R from corpus size,
    via table metadata — no extra count scan)."""
    vecs = _vecs(spark, sf_dir)
    n, _, dim = embeddings_meta(sf_dir)
    planes = lsh_planes_for(n)
    bands = lsh_band_table(vecs, planes, dim=dim)
    return (bands.groupBy(F.col("band").cast("long").alias("band"),
                          F.col("code").alias("bucket"))
            .agg(F.count("*").cast("long").alias("n_vecs"),
                 F.min("vec_id").alias("min_vec_id")))


def neardup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embeddings ∪ injected duplicate vectors (deterministic)."""
    vecs = _vecs(spark, sf_dir)
    dups = (vecs.filter(F.col("vec_id") % VEC_DUP_EVERY == 0)
            .select((F.col("vec_id") + VEC_DUP_OFFSET).alias("vec_id"),
                    "embedding"))
    return vecs.unionByName(dups)


def embedding_neardup(spark: SparkSession, sf_dir: str,
                      threshold: float = 0.9) -> DataFrame:
    """Embedding-cosine near-dup pairs via banded-LSH blocking.

    Two-phase like the MinHash dedup: (1) candidate pairs = vectors sharing
    any (band, code, sub) key — narrow rows (no embeddings) through the
    self-join, then distinct; (2) exact cosine only on candidates, joining
    the embeddings back. Identical vectors get identical codes in every
    band, so exact dups are always candidates (cap permitting).
    """
    corpus = neardup_corpus(spark, sf_dir)
    n, n_dups, dim = embeddings_meta(sf_dir)
    planes = lsh_planes_for(n + n_dups)
    bands = lsh_band_table(corpus.select("vec_id", "embedding"), planes,
                           dim=dim)
    a = bands.select(F.col("vec_id").alias("vec_a"), "band", "code", "sub")
    b = bands.select(F.col("vec_id").alias("vec_b"), "band", "code", "sub")
    cand = (a.join(b, ["band", "code", "sub"])
            .filter(F.col("vec_a") < F.col("vec_b"))
            .select("vec_a", "vec_b").distinct())
    # norms ride the build side (one per vector), not the pair rows —
    # same expression tree as cosine_col, so identical floats
    ea = corpus.select(F.col("vec_id").alias("vec_a"),
                       F.col("embedding").alias("ea"),
                       _norm("embedding").alias("na"))
    eb = corpus.select(F.col("vec_id").alias("vec_b"),
                       F.col("embedding").alias("eb"),
                       _norm("embedding").alias("nb"))
    return (cand.join(ea, "vec_a").join(eb, "vec_b")
            .select("vec_a", "vec_b",
                    F.round(_dot("ea", "eb") / (F.col("na") * F.col("nb")),
                            4).alias("cosine"))
            .filter(F.col("cosine") >= threshold))


# ---------------------------------------------------------------------------
# IVF coarse quantization
# ---------------------------------------------------------------------------

IVF_NPROBE = 2
IVF_QUERIES = 4
IVF_K = 5


def ivf_centroid_every(n: int) -> int:
    """Centroid sampling stride for ~√n cells (standard IVF sizing: cell
    count and cell size grow in balance). MUST stay formula-identical to
    the DuckDB twin (entry_queries: the centroid CTE's scalar subquery)."""
    if n <= 1:
        return 1
    cells = math.ceil(math.sqrt(n))
    return max(1, n // cells)


def ivf_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic coarse centroids: every ⌊n/⌈√n⌉⌋-th vector → ~√n cells.

    A real deployment k-means-refines these; the IVF *mechanics* (assign →
    probe → rank within probed cells) are identical and that is what the
    oracle checks. Deterministic selection keeps Spark and DuckDB equal.
    At 10^12 vectors √N centroids make the brute-force assign itself the
    bottleneck — the production path assigns hierarchically (quantize the
    centroid set again): implemented as :func:`ivf2_assign` (the
    `ann_ivf2_assign` gate query), which composes this same broadcast-
    assign shape at two levels.
    """
    vecs = _vecs(spark, sf_dir)
    every = ivf_centroid_every(embeddings_meta(sf_dir)[0])
    return (vecs.filter(F.col("vec_id") % every == 1)
            .select(F.col("vec_id").alias("centroid_id"),
                    F.col("embedding").alias("c")))


def ivf_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index build: each vector → nearest centroid by cosine.

    Broadcast the (~√N) centroid set against the corpus — one scan of the
    big side; the result is the partition key for cell-local search. Ties
    rank by centroid_id for determinism."""
    vecs = _vecs(spark, sf_dir)
    cents = ivf_centroids(spark, sf_dir)
    scored = (vecs.crossJoin(F.broadcast(cents))
              .select("vec_id", "centroid_id",
                      cosine_col("embedding", "c").alias("cos")))
    w = Window.partitionBy("vec_id").orderBy(
        F.col("cos").desc(), F.col("centroid_id"))
    return (scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("vec_id", "centroid_id",
                    F.round("cos", 4).alias("cosine")))


#: Coarse cells probed during the hierarchical assign (tolerates the
#: true nearest FINE centroid living one coarse cell over).
IVF2_COARSE_PROBE = 2


def ivf_coarse_stride(n_fine: int) -> int:
    """Second quantization level: ~√n_fine coarse cells over the FINE
    centroid set (so ~N^(1/4) coarse cells over an N-vector corpus).
    Same balance rule as :func:`ivf_centroid_every`; MUST stay
    formula-identical to the DuckDB twin."""
    if n_fine <= 1:
        return 1
    cells = math.ceil(math.sqrt(n_fine))
    return max(1, n_fine // cells)


def ivf2_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fine centroids + their coarse assignment (the two-level codebook).

    Coarse centroids are every stride-th FINE centroid by centroid_id
    rank (deterministic, like the first level); every fine centroid then
    assigns to its nearest coarse one by cosine (tie → smaller coarse_id).
    Output: (centroid_id, coarse_id, is_coarse, c). ``is_coarse`` marks
    coarse membership by RANK, not by self-assignment — two identical
    embeddings can cosine-tie, so a coarse centroid is not guaranteed to
    assign to itself. Session-cached (the √N-row codebook is rebuilt by
    every action otherwise)."""
    from .dedup import _cached

    def build() -> DataFrame:
        fine = ivf_centroids(spark, sf_dir)
        n_fine = fine.count()   # ~√N rows: the codebook, not the corpus
        stride = ivf_coarse_stride(n_fine)
        wr = Window.orderBy("centroid_id")
        ranked = fine.withColumn("rn", F.row_number().over(wr))
        coarse = (ranked.filter((F.col("rn") % stride) == 1)
                  .select(F.col("centroid_id").alias("coarse_id"),
                          F.col("c").alias("cc")))
        wf = Window.partitionBy("centroid_id").orderBy(
            F.col("ccos").desc(), F.col("coarse_id"))
        return (ranked.crossJoin(F.broadcast(coarse))
                .select("centroid_id", "c", "rn", "coarse_id",
                        cosine_col("c", "cc").alias("ccos"))
                .withColumn("crn", F.row_number().over(wf))
                .filter(F.col("crn") == 1)
                .select("centroid_id", "coarse_id",
                        ((F.col("rn") % stride) == 1).alias("is_coarse"),
                        "c"))

    return _cached(spark, sf_dir, "ivf2_codebook", build)


def ivf2_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical (two-level) IVF assign — the 10^12-scale path the
    flat assign's docstring promises.

    Flat assign scores every vector against all ~√N fine centroids
    (O(N·√N) — the bottleneck the ivf_centroids docstring documents).
    Here each vector scores only the ~N^(1/4) COARSE centroids, keeps
    its IVF2_COARSE_PROBE nearest coarse cells, and exact-ranks just the
    fine centroids quantized into those cells: O(N·N^(1/4)) +
    O(N·probe·N^(1/4)) — the standard coarse-quantizer composition
    (IVF-on-IVF; same shape as FAISS's IVF_HNSW coarse assign). The
    probed union may miss a fine centroid in a non-probed coarse cell —
    inherent to hierarchical quantization; the DuckDB twin runs the SAME
    procedure, so the gate pins the mechanics exactly.

    Output: (vec_id, coarse_id, centroid_id, cosine) — fine cell id and
    its coarse parent, cosine rounded like ivf_assign.
    """
    vecs = _vecs(spark, sf_dir)
    book = ivf2_centroids(spark, sf_dir)
    coarse = (book.filter("is_coarse")
              .select(F.col("centroid_id").alias("coarse_id"),
                      F.col("c").alias("cc")))
    wq = Window.partitionBy("vec_id").orderBy(
        F.col("qcos").desc(), F.col("coarse_id"))
    probed = (vecs.crossJoin(F.broadcast(coarse))
              .select("vec_id", "embedding", "coarse_id",
                      cosine_col("embedding", "cc").alias("qcos"))
              .withColumn("rn", F.row_number().over(wq))
              .filter(F.col("rn") <= IVF2_COARSE_PROBE)
              .select("vec_id", "embedding", "coarse_id"))
    wf = Window.partitionBy("vec_id").orderBy(
        F.col("cos").desc(), F.col("centroid_id"))
    return (probed.join(F.broadcast(book), "coarse_id")
            .select("vec_id", "coarse_id", "centroid_id",
                    cosine_col("embedding", "c").alias("cos"))
            .withColumn("frn", F.row_number().over(wf))
            .filter(F.col("frn") == 1)
            .select("vec_id", "coarse_id", "centroid_id",
                    F.round("cos", 4).alias("cosine")))


def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF search: probe the NPROBE nearest cells per query, exact-rank
    only the vectors inside them (the O(N) → O(N/cells · nprobe) path)."""
    vecs = _vecs(spark, sf_dir)
    cents = ivf_centroids(spark, sf_dir)
    assign = ivf_assign(spark, sf_dir).select("vec_id", "centroid_id")

    queries = (vecs.filter(F.col("vec_id") < IVF_QUERIES)
               .select(F.col("vec_id").alias("query_id"),
                       F.col("embedding").alias("q")))
    wq = Window.partitionBy("query_id").orderBy(
        F.col("qcos").desc(), F.col("centroid_id"))
    probes = (queries.crossJoin(F.broadcast(cents))
              .select("query_id", "q", "centroid_id",
                      cosine_col("q", "c").alias("qcos"))
              .withColumn("rn", F.row_number().over(wq))
              .filter(F.col("rn") <= IVF_NPROBE)
              .select("query_id", "q", "centroid_id"))

    cand = (probes.join(assign, "centroid_id")
            .filter(F.col("vec_id") != F.col("query_id"))
            .join(vecs, "vec_id")
            .select("query_id", "vec_id",
                    cosine_col("q", "embedding").alias("cos")))
    wr = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("vec_id"))
    return (cand.withColumn("rank", F.row_number().over(wr))
            .filter(F.col("rank") <= IVF_K)
            .select("query_id", F.col("rank").cast("long").alias("rank"),
                    "vec_id", F.round("cos", 4).alias("cosine")))


def neardup_pairs_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-cached ``embedding_neardup`` pair table, the shared input of
    ``neardup_components`` and ``neardup_survivors``: one materialization
    serves both (same persisted-build-side policy as the dedup band
    tables). The ``embedding_neardup`` query itself stays uncached."""
    from .dedup import _cached
    return _cached(spark, sf_dir, "neardup_pairs",
                   lambda: embedding_neardup(spark, sf_dir))


def _large_star(edges: DataFrame) -> DataFrame:
    """Large-star round (Kiveris et al., "Connected Components in MapReduce
    and Beyond", SOCC'14): every node u connects its LARGER neighbors to
    m(u) = min(Γ(u) ∪ {u}). One groupBy + one equi-join, no driver data."""
    sym = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    m = (sym.groupBy("src").agg(F.min("dst").alias("mn"))
         .select("src", F.least("src", "mn").alias("m")))
    return (sym.filter(F.col("dst") > F.col("src"))
            .join(m, "src")
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
            .filter(F.col("src") != F.col("dst"))
            .distinct())


def _small_star(edges: DataFrame) -> DataFrame:
    """Small-star round: every node u connects its SMALLER neighbors (and
    itself) to m = min of those neighbors. Output edges all point down
    (src > dst)."""
    down = (edges.select(F.greatest("src", "dst").alias("src"),
                         F.least("src", "dst").alias("dst"))
            .filter(F.col("src") != F.col("dst")))
    m = down.groupBy("src").agg(F.min("dst").alias("m"))
    out = (down.join(m, "src")
           .select(F.col("dst").alias("v"), "m")
           .filter(F.col("v") != F.col("m"))
           .union(m.select(F.col("src").alias("v"), "m")))
    return (out.select(F.col("v").alias("src"), F.col("m").alias("dst"))
            .distinct())


def connected_components_star(edges: DataFrame,
                              max_iters: int = 30) -> tuple[DataFrame, int]:
    """Alternating large-star/small-star connected components.

    Converges in O(log n) rounds INDEPENDENT of component diameter (the
    round-2 min-label loop was O(diameter) — fine for shallow dup
    clusters, quadratic wall on long chains). Each round is two
    groupBy+join passes; termination is a one-row checksum aggregate
    (count + order-insensitive xxhash sum) of the edge set — at the fixed
    point the set is a star forest with every node pointing at its
    component min, which is exactly the min-label output contract.

    Returns (labels(vec_id, component), rounds) — rounds exposed so tests
    can assert the O(log n) bound on adversarial chains.
    """
    def checksum(e: DataFrame):
        # decimal(38,0) sum: ANSI mode makes a plain long sum of hashes
        # throw ARITHMETIC_OVERFLOW
        r = e.agg(F.count("*").alias("n"),
                  F.sum(F.xxhash64("src", "dst")
                        .cast("decimal(38,0)")).alias("h")).first()
        return (r["n"], r["h"])

    # localCheckpoint (not persist): each round's plan references cur at
    # ~16 leaves (union + two self-joins), so WITHOUT lineage truncation
    # the logical plan grows 16× per round and Catalyst analysis time
    # explodes (measured: round 2 at 205 s on 50 edges, pure driver CPU).
    # Checkpointing makes every round's plan constant-size. On a real
    # cluster a reliable checkpoint dir (or GraphFrames' periodic
    # checkpoint cadence) replaces the executor-local variant.
    cur = (edges.select("src", "dst")
           .filter(F.col("src") != F.col("dst")).distinct()
           .localCheckpoint(eager=True))
    sig = checksum(cur)
    rounds = 0
    for _ in range(max_iters):
        nxt = _small_star(_large_star(cur)).localCheckpoint(eager=True)
        nsig = checksum(nxt)
        cur.unpersist()
        cur = nxt
        rounds += 1
        if nsig == sig:
            break
        sig = nsig
    labels = (cur.select(F.col("src").alias("vec_id"),
                         F.col("dst").alias("component"))
              .union(cur.select(F.col("dst").alias("vec_id"),
                                F.col("dst").alias("component")))
              .distinct())
    return labels, rounds


def neardup_components(spark: SparkSession, sf_dir: str,
                       max_iters: int = 30) -> DataFrame:
    """Connected components over the near-dup pair graph (keeper selection).

    The canonical final step of near-dedup: pairs chain (A≈B, B≈C ⇒ one
    group), so the keeper is chosen per CONNECTED COMPONENT, not per pair.
    Round 3 replaced the min-label propagation loop (O(component diameter)
    rounds, one convergence count per round) with the alternating
    large-star/small-star rewrite (:func:`connected_components_star`) —
    bounded O(log n) rounds regardless of chain length, same min-label
    output.

    Output: (vec_id, component) for every vector in ≥1 near-dup pair;
    component = min vec_id of the component (the keeper id).
    """
    pairs = neardup_pairs_cached(spark, sf_dir).select(
        F.col("vec_a").alias("src"), F.col("vec_b").alias("dst"))
    labels, _ = connected_components_star(pairs, max_iters)
    return labels


def neardup_survivors(spark: SparkSession, sf_dir: str,
                      max_iters: int = 30) -> DataFrame:
    """The dedup ACTION: the corpus minus non-representative members.

    pairs → components → keeper-per-component is only the decision; this
    applies it: survivors = vectors never in a near-dup pair (component
    label NULL) plus each component's min member. One left join of the
    corpus ids against the (small) label table — at scale the label side
    broadcasts, so the corpus is filtered in a single pass with no
    shuffle of the wide rows (ids only travel here; downstream keeps the
    full rows by semi-joining on the survivor ids).

    Output: (vec_id, kept_group_representative) — true iff the vector
    survived AS a component keeper (false = it was never near-duplicated).
    """
    labels = neardup_components(spark, sf_dir, max_iters)
    ids = neardup_corpus(spark, sf_dir).select("vec_id")
    return (ids.join(F.broadcast(labels), "vec_id", "left")
            .filter(F.col("component").isNull()
                    | (F.col("component") == F.col("vec_id")))
            .select("vec_id",
                    F.col("component").isNotNull()
                    .alias("kept_group_representative")))
