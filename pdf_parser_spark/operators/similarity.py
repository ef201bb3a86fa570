"""Approximate-nearest-neighbor search over an embedding column.

Two strategies:
- brute-force cosine top-k: the correctness baseline — broadcast the query
  set, cross join against the corpus, window-rank per query.  Exact; cost is
  |Q| x |corpus| dot products, all JVM-side.
- IVF top-k: the scale path — a REAL Lloyd k-means coarse quantizer fit as
  DataFrame ops (r2; replaces the r1 `label` stand-in), then each query
  probes its nprobe nearest cells and scans only those.  Cuts the scan by
  ~cells/nprobe with the usual IVF recall trade-off (bench.py reports
  measured recall@k vs the exact baseline).

Double-precision math + 4dp rounding so the DuckDB oracle reproduces values.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _cosine(av, bv):
    dot = F.aggregate(F.zip_with(av, bv, lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x)
    na = F.sqrt(F.aggregate(av, F.lit(0.0), lambda a, x: a + x * x))
    nb = F.sqrt(F.aggregate(bv, F.lit(0.0), lambda a, x: a + x * x))
    return dot / (na * nb)


def brute_force_topk(
    embeddings: DataFrame, n_queries: int = 10, k: int = 3
) -> DataFrame:
    """Exact top-k: queries = vec_id < n_queries (deterministic subset).
    (query_id, neighbor_id, cos_sim, rank) — rank ties broken by neighbor_id
    so output is total-ordered for the oracle hash."""
    emb = embeddings.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    q = emb.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    c = emb.select(F.col("vec_id").alias("neighbor_id"), F.col("v").alias("cv"))
    sim = F.round(_cosine(F.col("qv"), F.col("cv")), 4)
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", sim.alias("cos_sim"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )


# ---------------------------------------------------------------------------
# IVF with a REAL coarse quantizer (r2): Lloyd k-means fit as DataFrame ops.
# The model (k x dim doubles) is tiny by design, so per-round centroids are
# collected to the driver and re-broadcast as literals — the standard
# fit-small / apply-big split.  Determinism guards: seeds are the k lowest
# vec_ids, argmin ties break to the lowest cluster id, per-round centroids
# are rounded to KMEANS_ROUND_DP so float sum-order noise cannot flip an
# assignment between runs or between Spark and the oracle's numpy twin
# (tools/gen_expected.py generates the expected centroids the same way).
# ---------------------------------------------------------------------------

KMEANS_K = 8
KMEANS_ITERS = 5
KMEANS_ROUND_DP = 6
# sample-fit basis points: fit the quantizer on the md5-deterministic 25%
# of vectors (the fit-on-sample mode the 10^12 story requires — Lloyd rounds
# touch the sample, assignment touches the corpus once)
KMEANS_SAMPLE_BP = 2500


def _sample_pred(bp: int):
    """Deterministic portable row sample: md5(vec_id) % 10000 < bp.  md5 is
    bit-identical across Spark, DuckDB, and Python (portable-hash doctrine),
    so the oracle's numpy twin selects the exact same rows."""
    h = F.conv(F.substring(F.md5(F.col("vec_id").cast("string")), 1, 8), 16, 10)
    return (h.cast("long") % 10000) < bp


def _sq_dist(v, centroid: list[float]):
    cv = F.array(*[F.lit(float(x)) for x in centroid])
    return F.aggregate(
        F.zip_with(v, cv, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0), lambda a, x: a + x,
    )


def _cluster_of(v, centroids: list[list[float]]):
    """argmin over squared distances; first-minimum tie-break (lowest id)."""
    darr = F.array(*[_sq_dist(v, c) for c in centroids])
    return (F.array_position(darr, F.array_min(darr)) - 1).cast("int")


def kmeans_fit(
    embeddings: DataFrame,
    k: int = KMEANS_K,
    max_iter: int = KMEANS_ITERS,
    dp: int = KMEANS_ROUND_DP,
    sample_bp: int | None = None,
) -> list[list[float]]:
    """Lloyd iterations: assign (JVM column ops) -> mean per (cluster, dim)
    (posexplode + one partial-agg groupBy) -> round -> repeat.  Converged or
    max_iter.  Empty clusters keep their previous centroid.

    ``sample_bp`` switches on fit-on-sample: every Lloyd round touches only
    the md5-deterministic ``sample_bp``/10000 fraction of vectors.  Seeds
    stay the k lowest vec_ids of the FULL table — fetching k known rows is
    an O(k) pushed-down lookup, not a corpus pass, and keeping the seed set
    identical to the full fit means the sample changes only the means, not
    the basin each centroid starts in (measured recall@3 at sf0.1 matches
    the full fit; sample-seeded fits lose whole clusters when two low
    sampled ids share a basin).  At 10^12 rows this is the only viable fit —
    the corpus is touched once, at assignment time inside ivf_topk, never
    during the iterations.  Pass the result to ivf_topk(centroids=...) so
    later queries skip the fit."""
    emb = embeddings.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    seeds = emb.orderBy("vec_id").limit(k).collect()
    if sample_bp is not None:
        emb = emb.where(_sample_pred(sample_bp))
    centroids = [[round(float(x), dp) for x in r["v"]] for r in seeds]
    dim = len(centroids[0])
    for _ in range(max_iter):
        assigned = emb.withColumn("cluster", _cluster_of(F.col("v"), centroids))
        means = (
            assigned.select("cluster", F.posexplode("v").alias("pos", "x"))
            .groupBy("cluster", "pos")
            .agg(F.avg("x").alias("m"))
            .collect()
        )
        new = [list(c) for c in centroids]
        for r in means:
            new[r["cluster"]][r["pos"]] = round(float(r["m"]), dp)
        if new == centroids:
            break
        centroids = new
    return centroids


def ivf_topk(
    embeddings: DataFrame,
    n_queries: int = 10,
    k: int = 3,
    nprobe: int = 2,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF top-k with a fitted coarse quantizer: corpus vectors are assigned
    to their nearest centroid once; each query probes its ``nprobe`` nearest
    cells and scans only those.  Same output shape as brute_force_topk;
    recall < 1.0 by design (bench.py reports measured recall@k vs brute).

    At 10^12 scale: the fit runs on a sample, the assignment is one narrow
    column-op pass (writable as a partition column so probes prune
    partitions), and the probe join is broadcast(queries) x cell-restricted
    corpus — never a cross product."""
    if centroids is None:
        centroids = kmeans_fit(embeddings)
    emb = embeddings.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("v").alias("cv"),
        _cluster_of(F.col("v"), centroids).alias("cell"),
    )
    # nprobe nearest cells per query: sort (dist, cell-id) structs, slice
    probe_structs = F.array(*[
        F.struct(_sq_dist(F.col("qv"), cent).alias("d"), F.lit(i).alias("c"))
        for i, cent in enumerate(centroids)
    ])
    q = (
        emb.where(F.col("vec_id") < n_queries)
        .select(F.col("vec_id").alias("query_id"), F.col("v").alias("qv"))
        .withColumn("probe", F.explode(
            F.transform(
                F.slice(F.array_sort(probe_structs), 1, nprobe),
                lambda s: s["c"],
            )
        ))
    )
    sim = F.round(_cosine(F.col("qv"), F.col("cv")), 4)
    scored = (
        F.broadcast(q)
        .join(c, on=F.col("probe") == F.col("cell"))
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", sim.alias("cos_sim"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )


# ---------------------------------------------------------------------------
# Random-hyperplane LSH (SimHash-for-vectors): the second scale path next to
# IVF.  Hyperplane weights are derived from md5 (portable_hash32 doctrine:
# md5 is bit-identical across Spark, DuckDB, and Python), so the oracle
# RE-DERIVES the planes in SQL rather than trusting frozen literals.  The
# integer-over-2^31 weights are exact doubles in every engine; projections
# are rounded at LSH_ROUND_DP before the sign test so summation-order float
# noise cannot flip a bit between engines.
#
# At 10^12 scale: signatures are one narrow map (P dot products per row);
# candidate generation joins on (band, band_value) buckets — never a cross
# product; the exact re-rank touches only bucket-collided pairs.  Recall is
# tuned by n_planes/band_bits exactly like MinHash-LSH band math.
# ---------------------------------------------------------------------------

# 12 bands x 4 bits (one 48-bit BIGINT signature): the r5 default retune.
# Raising recall by WIDENING bands (fewer bits/band) explodes the candidate
# set — measured on the sf0.1 embeddings: 32x2 hits recall 1.0 but its
# bands have 4 buckets, candidates ~ the corpus (brute force in disguise);
# 32x3 recall 0.93 at 73% of corpus.  Raising recall by adding BANDS at the
# SAME per-band selectivity (16 buckets) is the textbook knob that survives
# scale: 16 planes/4 bands -> recall 0.53 at 23% candidates; 48 planes/12
# bands -> recall 0.77 at 54% candidates on this NEAR-RANDOM synthetic
# corpus (the adversarial case for sign-LSH — true neighbors sit at
# moderate cosine, so per-band match ~ p^4 is weak; clustered real
# embeddings collide far more selectively at the same config).  bench.py
# reports the measured band_bits sweep beside the default.
LSH_PLANES = 48
LSH_BAND_BITS = 4
LSH_ROUND_DP = 6


def lsh_planes(dim: int, n_planes: int = LSH_PLANES) -> list[list[float]]:
    """Deterministic hyperplanes: w[p][j] = md5_32('plane_{p}_{j}')/2^31 - 1,
    uniform in [-1, 1) and exactly representable as a double."""
    import hashlib

    return [
        [
            int(hashlib.md5(f"plane_{p}_{j}".encode()).hexdigest()[:8], 16)
            / 2147483648.0
            - 1.0
            for j in range(dim)
        ]
        for p in range(n_planes)
    ]


def _dot_lit(v, weights: list[float]):
    wv = F.array(*[F.lit(float(x)) for x in weights])
    return F.aggregate(
        F.zip_with(v, wv, lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x
    )


def lsh_signature(v, planes: list[list[float]]):
    """Packed n-plane sign signature as a long column."""
    bits = [
        F.when(F.round(_dot_lit(v, pl), LSH_ROUND_DP) > 0, F.lit(1 << p)).otherwise(F.lit(0))
        for p, pl in enumerate(planes)
    ]
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out.cast("long")


def lsh_topk(
    embeddings: DataFrame,
    n_queries: int = 10,
    k: int = 3,
    n_planes: int = LSH_PLANES,
    band_bits: int = LSH_BAND_BITS,
) -> DataFrame:
    """LSH-bucketed ANN: same output shape as brute_force_topk.  Corpus and
    query signatures are banded (n_planes/band_bits bands); candidates are
    pairs colliding in >=1 band, re-ranked by exact cosine.  Queries with no
    collision in any band are absent (recall < 1 by design; bench.py reports
    measured recall@k vs brute)."""
    first = embeddings.select("embedding").first()
    if first is None:  # empty table: empty result, same shape as brute
        return embeddings.sparkSession.createDataFrame(
            [], "query_id long, neighbor_id long, cos_sim double, rank int"
        )
    dim = len(first["embedding"])
    planes = lsh_planes(dim, n_planes)
    n_bands = n_planes // band_bits
    mask = (1 << band_bits) - 1
    emb = embeddings.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    ).withColumn("sig", lsh_signature(F.col("v"), planes))
    bands = F.explode(
        F.array(*[
            F.struct(
                F.lit(b).alias("b"),
                F.shiftright(F.col("sig"), band_bits * b).bitwiseAND(mask).alias("bv"),
            )
            for b in range(n_bands)
        ])
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("v").alias("cv"), bands.alias("k")
    ).select("neighbor_id", "cv", "k.b", "k.bv")
    q = (
        emb.where(F.col("vec_id") < n_queries)
        .select(F.col("vec_id").alias("query_id"), F.col("v").alias("qv"), bands.alias("k"))
        .select("query_id", "qv", "k.b", "k.bv")
    )
    sim = F.round(_cosine(F.col("qv"), F.col("cv")), 4)
    scored = (
        F.broadcast(q)
        .join(c, on=["b", "bv"])
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", sim.alias("cos_sim"))
        .groupBy("query_id", "neighbor_id")  # dedup multi-band collisions
        .agg(F.max("cos_sim").alias("cos_sim"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )


# ---------------------------------------------------------------------------
# Product quantization (Jegou/Douze/Schmid, PAMI 2011): the third scale path
# next to IVF (prune WHICH vectors are scanned) and hyperplane LSH (prune
# WHICH pairs are compared) — PQ compresses WHAT is scanned.  Each vector is
# split into PQ_M subvectors; each subspace gets its own k-means codebook
# (the SAME kmeans_fit Lloyd loop, run on the sliced column, so all the
# determinism guards — lowest-vec_id seeds, first-min ties, per-round
# rounding — carry over verbatim); a vector is stored as M small codes.
# Queries stay uncompressed and score candidates by asymmetric distance
# (ADC): per subspace, one lookup into the query's precomputed
# distance-to-centroid table, summed over subspaces.
#
# At 10^12 scale this is the memory story IVF/LSH cannot tell: a 64-dim
# float vector is 256 bytes; its PQ code is M=4 bytes — a 64x smaller scan
# whose ADC cost is M lookups instead of dim multiplies.  Production stacks
# compose IVF(coarse cells) x PQ(in-cell codes) — both halves exist here.
# The codes table is one narrow column pass; the query-side distance tables
# are built BEFORE the broadcast join so the per-pair work is exactly M
# element_at lookups; no cross product ever materializes full vectors.
# ---------------------------------------------------------------------------

PQ_M = 4          # subspaces (64-dim corpus -> 16-dim subvectors)
PQ_KSUB = 8       # centroids per subspace codebook (codes fit in 3 bits)
PQ_ROUND_DP = 4   # ADC rounding before the rank window (oracle hash guard)
# default ADC-shortlist width for the re-rank stage: measured recall@3 on
# the sf0.01 embeddings is 0.27 raw-ADC -> 0.40/0.53/0.70 at R=16/32/64
# (random-ish synthetic vectors are PQ's worst case: quantization error is
# the same order as the cosine gaps it must preserve; bench.py reports the
# measured numbers per scale).  R=64 is the r5 default retune: at 10^12
# rows the exact-fetch cost is |Q| x R keyed lookups — negligible — while
# raw ADC's 0.13-0.27 measured recall made the undressed default a
# near-useless index (the r4 review's point); callers wanting the textbook
# ADC-only stage pass rerank=None explicitly.
PQ_RERANK = 64


def pq_fit(
    embeddings: DataFrame, m: int = PQ_M, ksub: int = PQ_KSUB,
    max_iter: int = KMEANS_ITERS, dp: int = KMEANS_ROUND_DP,
) -> list[list[list[float]]]:
    """Fit M per-subspace codebooks with ONE FUSED Lloyd loop: every round
    assigns each vector to its nearest centroid in ALL M subspaces and
    aggregates means per (subspace, cluster, position) in a single job —
    the r5 rewrite of the sequential M x kmeans_fit form, which paid M
    separate source scans and M x iters job launches for arithmetic that
    is independent per subspace anyway.  Per-subspace trajectories are
    IDENTICAL to the sequential fit (same lowest-ksub vec_id seeds, same
    argmin, same rounded means; a subspace that has converged recomputes
    to itself, so the global fixed point equals the per-subspace ones) —
    the frozen-twin oracles stay green.  Jobs: max(iters) instead of
    sum(iters); the (sampled) source is scanned once per round, not M
    times.  Returns codebooks[sub][cluster][dim_in_sub], driver-resident
    M x ksub x (dim/m) doubles; at 10^12 rows fit on the md5 sample and
    pass the codebooks to pq_topk(codebooks=...)."""
    first = embeddings.select("embedding").first()
    dim = len(first["embedding"])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    sub = dim // m
    emb = embeddings.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    seeds = emb.orderBy("vec_id").limit(ksub).collect()
    books = [
        [[round(float(x), dp) for x in r["v"][s * sub:(s + 1) * sub]]
         for r in seeds]
        for s in range(m)
    ]
    for _ in range(max_iter):
        per_sub = [
            F.struct(
                F.lit(s).alias("s"),
                _cluster_of(
                    F.slice(F.col("v"), s * sub + 1, sub), books[s]
                ).alias("cluster"),
                F.slice(F.col("v"), s * sub + 1, sub).alias("sv"),
            )
            for s in range(m)
        ]
        means = (
            emb.select(F.explode(F.array(*per_sub)).alias("a"))
            .select("a.s", "a.cluster",
                    F.posexplode("a.sv").alias("pos", "x"))
            .groupBy("s", "cluster", "pos")
            .agg(F.avg("x").alias("mn"))
            .collect()
        )
        new = [[list(c) for c in b] for b in books]
        for r in means:
            new[r["s"]][r["cluster"]][r["pos"]] = round(float(r["mn"]), dp)
        if new == books:
            break
        books = new
    return books


def pq_encode(embeddings: DataFrame, codebooks: list[list[list[float]]]) -> DataFrame:
    """(vec_id, codes array<int>) — one narrow column pass, no shuffle; the
    argmin per subspace reuses _cluster_of (first-min tie-break)."""
    sub = len(codebooks[0][0])
    emb = embeddings.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    codes = F.array(*[
        _cluster_of(F.slice(F.col("v"), s * sub + 1, sub), book)
        for s, book in enumerate(codebooks)
    ])
    return emb.select("vec_id", codes.alias("codes"))


def pq_topk(
    embeddings: DataFrame,
    n_queries: int = 10,
    k: int = 3,
    codebooks: list[list[list[float]]] | None = None,
    rerank: int | None = PQ_RERANK,
) -> DataFrame:
    """ADC top-k over PQ codes: (query_id, neighbor_id, adc_dist, rank),
    rank by (adc_dist asc, neighbor_id asc) so ties are total-ordered for
    the oracle hash.  Queries are exact vectors; neighbors exist only as
    codes after the encode pass — the broadcast join carries M ints per
    corpus row, never the vector (the compression IS the plan win).

    ``rerank=R`` adds the production second stage (Jegou et al.'s ADC+R):
    the ADC scan shortlists R candidates per query, then ONLY those R rows
    fetch their exact vectors (a key equi join on neighbor_id — at 10^12
    rows this is the point: the full-precision table is touched for
    |Q| x R rows, not the corpus) and re-rank by exact cosine; output
    columns become (query_id, neighbor_id, cos_sim, rank) — brute-force's
    shape, so recall loss is confined to shortlist misses.

    Recall < 1 by design (quantization error); bench.py reports measured
    recall@k vs brute_force_topk for both faces, the same evidence as
    IVF/LSH."""
    if codebooks is None:
        codebooks = pq_fit(embeddings)
    sub = len(codebooks[0][0])
    codes = pq_encode(embeddings, codebooks)
    # query-side distance tables: dt{s} = [d2(q_sub, c) for c in book], built
    # once per query row BEFORE the join so the per-pair cost is M lookups
    q = embeddings.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("qv"),
    ).where(F.col("query_id") < n_queries)
    for s, book in enumerate(codebooks):
        qsub = F.slice(F.col("qv"), s * sub + 1, sub)
        q = q.withColumn(f"dt{s}", F.array(*[_sq_dist(qsub, c) for c in book]))
    q = q.drop("qv")
    adc = None
    for s in range(len(codebooks)):
        term = F.element_at(F.col(f"dt{s}"), F.element_at(F.col("codes"), s + 1) + 1)
        adc = term if adc is None else adc + term
    scored = (
        F.broadcast(q)
        .crossJoin(codes)
        .where(F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(adc, PQ_ROUND_DP).alias("adc_dist"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist").asc(), F.col("neighbor_id").asc()
    )
    if rerank is None:
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .orderBy("query_id", "rank")
        )
    shortlist = (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= rerank)
        .select("query_id", "neighbor_id")
    )
    emb = embeddings.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    exact = (
        shortlist
        .join(emb.select(F.col("vec_id").alias("query_id"),
                         F.col("v").alias("qv")), "query_id")
        .join(emb.select(F.col("vec_id").alias("neighbor_id"),
                         F.col("v").alias("cv")), "neighbor_id")
        .select(
            "query_id", "neighbor_id",
            F.round(_cosine(F.col("qv"), F.col("cv")), 4).alias("cos_sim"),
        )
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        exact.withColumn("rank", F.row_number().over(w2))
        .where(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )


DIM_LADDER = (8, 16, 32, 64)  # truncation steps audited vs the full dim


def dim_truncation_audit(
    embeddings: DataFrame,
    n_queries: int = 10,
    k: int = 3,
    dims: tuple[int, ...] = DIM_LADDER,
) -> DataFrame:
    """Matryoshka-style dimension audit: exact top-k recall of
    PREFIX-TRUNCATED embeddings against the full-dimension ranking, per
    ladder step — the measure-don't-guess table behind 'can we store 16
    dims instead of 64?' (a 4x index-size cut if recall holds; MRL-trained
    embeddings are built to pass exactly this audit, and a model NOT
    trained that way fails it — which is the finding).

    (dim, n_pairs, n_overlap, recall_bp): recall_bp = 10000 * overlap div
    full-pair count, exact integers (the minhash_estimate_audit doctrine).

    Scale: each ladder step is the brute-force plan on a NARROWER slice
    (the slice happens in the scan, so a 16-dim step reads/ships 1/4 the
    vector bytes); the overlap join is on the tiny (query, neighbor)
    result sets.  In production the audit runs on a sample — its verdict
    is a property of the embedding model, not the corpus size."""
    full = brute_force_topk(embeddings, n_queries, k).select(
        "query_id", "neighbor_id")
    spark = embeddings.sparkSession
    out = None
    n_full = F.broadcast(full.groupBy().count().select(
        F.col("count").alias("n_pairs")))
    for d in dims:
        sliced = embeddings.select(
            "vec_id",
            F.slice(F.col("embedding"), 1, d).alias("embedding"),
        )
        trunc = brute_force_topk(sliced, n_queries, k).select(
            "query_id", "neighbor_id")
        step = (
            full.join(trunc, ["query_id", "neighbor_id"], "left_semi")
            .groupBy().count()
            .select(F.col("count").alias("n_overlap"))
            .crossJoin(n_full)
            .select(
                F.lit(d).alias("dim"),
                F.col("n_pairs").cast("long").alias("n_pairs"),
                F.col("n_overlap").cast("long").alias("n_overlap"),
                F.expr("(10000 * n_overlap) div n_pairs")
                .cast("long").alias("recall_bp"),
            )
        )
        out = step if out is None else out.unionByName(step)
    return out.orderBy("dim")


def _cent_arr(centroids: list[list[float]]):
    """All centroids as one nested array literal, indexable by cell id."""
    return F.array(*[
        F.array(*[F.lit(float(x)) for x in c]) for c in centroids
    ])


def residual_frame(embeddings: DataFrame, centroids: list[list[float]]) -> DataFrame:
    """(vec_id, embedding=v - centroid[cell]) — each vector's residual w.r.t.
    its nearest coarse centroid (Jegou/Douze/Schmid, PAMI 2011 §IV-A).  One
    narrow column pass: the cell argmin and the elementwise subtraction are
    pure JVM expressions, no shuffle, no UDF."""
    emb = embeddings.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    cell = _cluster_of(F.col("v"), centroids)
    cent = F.element_at(_cent_arr(centroids), cell + 1)
    return emb.select(
        "vec_id",
        F.zip_with(F.col("v"), cent, lambda x, y: x - y).alias("embedding"),
    )


def pq_fit_residual(
    embeddings: DataFrame,
    centroids: list[list[float]],
    m: int = PQ_M,
    ksub: int = PQ_KSUB,
) -> list[list[list[float]]]:
    """Fit PQ codebooks on RESIDUALS w.r.t. the coarse quantizer instead of
    raw vectors — the published IVFADC recipe (Jegou et al. PAMI 2011 §IV-A):
    after the coarse quantizer explains the between-cell variance, the
    codebooks only have to resolve the (much smaller) within-cell residual,
    so the same M x ksub budget buys finer resolution.  Reuses pq_fit (and
    through it the shared Lloyd loop with all its determinism guards) on the
    residual frame; seeds are the ksub lowest vec_ids' residuals."""
    return pq_fit(residual_frame(embeddings, centroids), m=m, ksub=ksub)


def ivfpq_topk(
    embeddings: DataFrame,
    n_queries: int = 10,
    k: int = 3,
    nprobe: int = 2,
    centroids: list[list[float]] | None = None,
    codebooks: list[list[list[float]]] | None = None,
) -> DataFrame:
    """IVF x PQ — the composition production ANN stacks actually deploy
    (FAISS's IVFADC, the layout behind most billion-vector services): the
    IVF coarse quantizer prunes WHICH vectors are scanned (nprobe cells of
    ~N/cells each) and PQ compresses WHAT is scanned (M code bytes per
    vector), so the per-query cost is (N * nprobe / cells) ADC lookups
    over M-byte codes — both reduction factors multiply, which is the
    whole point of composing them.

    Output (query_id, neighbor_id, adc_dist, rank) — ranked by ADC within
    the probed cells; recall compounds both stages' losses (bench reports
    it next to the single-stage paths).

    Plan: corpus side computes (cell, codes) in ONE narrow pass (at 10^12
    rows both become table columns — cell doubles as the partition key so
    probes prune partitions); the query side carries its nprobe cells and
    per-subspace distance tables; the probe join is broadcast(queries) x
    cell-restricted codes, never a cross product over the corpus."""
    if centroids is None:
        centroids = kmeans_fit(embeddings)
    if codebooks is None:
        codebooks = pq_fit(embeddings)
    sub = len(codebooks[0][0])
    emb = embeddings.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    corpus = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        _cluster_of(F.col("v"), centroids).alias("cell"),
        F.array(*[
            _cluster_of(F.slice(F.col("v"), s * sub + 1, sub), book)
            for s, book in enumerate(codebooks)
        ]).alias("codes"),
    )
    probe_structs = F.array(*[
        F.struct(_sq_dist(F.col("qv"), cent).alias("d"), F.lit(i).alias("c"))
        for i, cent in enumerate(centroids)
    ])
    q = (
        emb.where(F.col("vec_id") < n_queries)
        .select(F.col("vec_id").alias("query_id"), F.col("v").alias("qv"))
        .withColumn("probe", F.explode(
            F.transform(
                F.slice(F.array_sort(probe_structs), 1, nprobe),
                lambda s: s["c"],
            )
        ))
    )
    for s, book in enumerate(codebooks):
        qsub = F.slice(F.col("qv"), s * sub + 1, sub)
        q = q.withColumn(f"dt{s}", F.array(*[_sq_dist(qsub, c) for c in book]))
    q = q.drop("qv")
    adc = None
    for s in range(len(codebooks)):
        term = F.element_at(F.col(f"dt{s}"), F.element_at(F.col("codes"), s + 1) + 1)
        adc = term if adc is None else adc + term
    scored = (
        F.broadcast(q)
        .join(corpus, on=F.col("probe") == F.col("cell"))
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            F.col("neighbor_id").alias("neighbor_id"),
            F.round(adc, PQ_ROUND_DP).alias("adc_dist"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist").asc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )


def ivfpq_residual_topk(
    embeddings: DataFrame,
    n_queries: int = 10,
    k: int = 3,
    nprobe: int = 2,
    centroids: list[list[float]] | None = None,
    codebooks: list[list[list[float]]] | None = None,
    rerank: int | None = PQ_RERANK,
) -> DataFrame:
    """IVFADC as PUBLISHED (Jegou/Douze/Schmid PAMI 2011 §IV-A): PQ codes
    quantize each vector's RESIDUAL w.r.t. its coarse centroid, not the raw
    vector.  The coarse quantizer explains the between-cell variance, so the
    M x ksub code budget resolves only the within-cell residual — the reason
    production IVFPQ sees usable recall where raw-vector PQ at the same
    budget does not (the r3 verdict's one measured quality gap: raw ivfpq
    recall@3 0.17; this variant is benched next to it).

    Mechanics vs ivfpq_topk: the corpus side encodes residual slices against
    ``codebooks`` fit by pq_fit_residual; the query side's ADC distance
    tables become PER-PROBE — for each probed cell the query residual is
    (q - centroid[cell]), so dt{s} is built after the probe explode.  Cost
    is unchanged (nprobe x M tables per query instead of M; the tables are
    ksub doubles each); the probe join and ranking are identical.

    ``rerank=R`` adds the exact-cosine second stage over the ADC shortlist
    (same key-equi-join pattern as pq_topk: the full-precision table is
    touched for |Q| x R rows, never the corpus); output becomes
    (query_id, neighbor_id, cos_sim, rank).

    Plan at 10^12 rows: (cell, codes) are table columns written once —
    cell doubles as the partition key so probes prune partitions; the
    per-probe query tables are built BEFORE the broadcast join, so per-pair
    work stays exactly M element_at lookups."""
    if centroids is None:
        centroids = kmeans_fit(embeddings)
    if codebooks is None:
        codebooks = pq_fit_residual(embeddings, centroids)
    sub = len(codebooks[0][0])
    emb = embeddings.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    cents = _cent_arr(centroids)
    cell = _cluster_of(F.col("v"), centroids)
    rv = F.zip_with(F.col("v"), F.element_at(cents, cell + 1), lambda x, y: x - y)
    corpus = (
        emb.select(
            F.col("vec_id").alias("neighbor_id"),
            cell.alias("cell"),
            rv.alias("rv"),
        )
        .select(
            "neighbor_id", "cell",
            F.array(*[
                _cluster_of(F.slice(F.col("rv"), s * sub + 1, sub), book)
                for s, book in enumerate(codebooks)
            ]).alias("codes"),
        )
    )
    probe_structs = F.array(*[
        F.struct(_sq_dist(F.col("qv"), cent).alias("d"), F.lit(i).alias("c"))
        for i, cent in enumerate(centroids)
    ])
    q = (
        emb.where(F.col("vec_id") < n_queries)
        .select(F.col("vec_id").alias("query_id"), F.col("v").alias("qv"))
        .withColumn("probe", F.explode(
            F.transform(
                F.slice(F.array_sort(probe_structs), 1, nprobe),
                lambda s: s["c"],
            )
        ))
        # per-probe query residual: (q - centroid[probe]); the ADC tables
        # below are built from it, so each probed cell gets its own tables
        .withColumn(
            "qres",
            F.zip_with(
                F.col("qv"), F.element_at(cents, F.col("probe") + 1),
                lambda x, y: x - y,
            ),
        )
    )
    for s, book in enumerate(codebooks):
        qsub = F.slice(F.col("qres"), s * sub + 1, sub)
        q = q.withColumn(f"dt{s}", F.array(*[_sq_dist(qsub, c) for c in book]))
    q = q.drop("qv", "qres")
    adc = None
    for s in range(len(codebooks)):
        term = F.element_at(F.col(f"dt{s}"), F.element_at(F.col("codes"), s + 1) + 1)
        adc = term if adc is None else adc + term
    scored = (
        F.broadcast(q)
        .join(corpus, on=F.col("probe") == F.col("cell"))
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id", "neighbor_id",
            F.round(adc, PQ_ROUND_DP).alias("adc_dist"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist").asc(), F.col("neighbor_id").asc()
    )
    if rerank is None:
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .orderBy("query_id", "rank")
        )
    shortlist = (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= rerank)
        .select("query_id", "neighbor_id")
    )
    exact = (
        shortlist
        .join(emb.select(F.col("vec_id").alias("query_id"),
                         F.col("v").alias("qv")), "query_id")
        .join(emb.select(F.col("vec_id").alias("neighbor_id"),
                         F.col("v").alias("cv")), "neighbor_id")
        .select(
            "query_id", "neighbor_id",
            F.round(_cosine(F.col("qv"), F.col("cv")), 4).alias("cos_sim"),
        )
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        exact.withColumn("rank", F.row_number().over(w2))
        .where(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )


# ---------------------------------------------------------------------------
# SQ8 scalar quantization — the third compression point on the memory/recall
# curve next to PQ (M x ksub codebooks) and raw doubles: every component
# quantizes to one byte against a GLOBAL [mn, mx] range (the Lucene/int8-HNSW
# formulation — per-corpus affine range, not per-dim), so a 64-dim vector is
# 64 bytes instead of 512 and the quantized cosine is computable from INTEGER
# sufficient statistics:
#
#   dec(c_d) = mn + c_d * s,  s = (mx - mn) / 255
#   dot(dec q, dec c) = mn^2 D + mn s (S1q + S1c) + s^2 * SUM(q_d c_d)
#   |dec v|^2          = mn^2 D + 2 mn s S1v + s^2 S2v
#
# where S1 = sum of codes, S2 = sum of squared codes, and the cross term is
# an integer dot product — exactly the int8-SIMD inner product real engines
# run, with the affine correction folded in algebraically.  Cross-engine
# exactness is the point of the formulation: every SUM is a BIGINT fold
# (order-free; max 255^2 * 64 ~ 4.2M per pair, nowhere near 2^53) and the
# float arithmetic on top is ONE fixed-shape expression evaluated identically
# by Spark and the oracle, then rounded at 4dp before the rank window.
# ---------------------------------------------------------------------------

SQ8_LEVELS = 255


def sq8_range(embeddings: DataFrame) -> tuple[float, float]:
    """Global (mn, mx) over every component — two order-free exact
    aggregates (the 'fit' of scalar quantization; at 10^12 vectors this is
    one map-side-combined scan, and in production it runs on a sample like
    kmeans_fit's sample_bp — min/max only widen with more data)."""
    r = (
        embeddings.select(
            F.explode(F.col("embedding").cast("array<double>")).alias("x"))
        .agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
        .collect()[0]
    )
    return float(r["mn"]), float(r["mx"])


def sq8_encode(
    embeddings: DataFrame, mn: float, mx: float
) -> DataFrame:
    """(vec_id, codes array<long>, s1, s2, d) — one-byte codes plus the
    integer sufficient statistics the quantized cosine needs.  The clamp
    guards float noise only: in-range components map to [0, 255] by
    construction (mx itself hits floor(255) = 255)."""
    scale = F.lit(SQ8_LEVELS) / (F.lit(mx) - F.lit(mn))
    codes = F.transform(
        F.col("embedding").cast("array<double>"),
        lambda x: F.least(
            F.greatest(F.floor((x - F.lit(mn)) * scale), F.lit(0)),
            F.lit(SQ8_LEVELS),
        ).cast("long"),
    )
    zero = F.lit(0).cast("long")
    return embeddings.select(
        "vec_id", codes.alias("codes")
    ).select(
        "vec_id", "codes",
        F.aggregate("codes", zero, lambda a, x: a + x).alias("s1"),
        F.aggregate("codes", zero, lambda a, x: a + x * x).alias("s2"),
        F.size("codes").cast("long").alias("d"),
    )


def sq8_topk(
    embeddings: DataFrame, n_queries: int = 10, k: int = 3
) -> DataFrame:
    """Top-k by SQ8-quantized cosine (symmetric: both sides quantized —
    the int8-dot-product engine path).  Output shape mirrors
    brute_force_topk: (query_id, neighbor_id, cos_sq8, rank), rank ties
    broken by neighbor_id.

    Scale: codes are 8x smaller than raw doubles (the reason the method
    exists — a 100 TB embedding corpus scans as 12.5 TB), the per-pair
    work is one integer dot + a constant-shape float expression, and the
    fit is two scalar aggregates.  The brute pair enumeration below is the
    same demo harness every ANN face here uses; production composes these
    codes INSIDE ivf/lsh cells exactly like pq_topk."""
    mn, mx = sq8_range(embeddings)
    enc = sq8_encode(embeddings, mn, mx)
    q = enc.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("codes").alias("qc"),
        F.col("s1").alias("s1q"), F.col("s2").alias("s2q"),
    )
    c = enc.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("codes").alias("cc"),
        F.col("s1").alias("s1c"), F.col("s2").alias("s2c"), "d",
    )
    zero = F.lit(0).cast("long")
    dot = F.aggregate(
        F.zip_with(F.col("qc"), F.col("cc"), lambda x, y: x * y),
        zero, lambda a, x: a + x,
    )
    lmn, lmx = F.lit(mn), F.lit(mx)
    sc = (lmx - lmn) / F.lit(SQ8_LEVELS)
    # fixed-shape float expression — written in the SAME operation order as
    # the oracle SQL so both engines produce bit-identical doubles
    num = (
        lmn * lmn * F.col("d")
        + lmn * sc * (F.col("s1q") + F.col("s1c"))
        + sc * sc * F.col("_dot")
    )
    den_q = F.sqrt(
        lmn * lmn * F.col("d") + F.lit(2.0) * lmn * sc * F.col("s1q")
        + sc * sc * F.col("s2q"))
    den_c = F.sqrt(
        lmn * lmn * F.col("d") + F.lit(2.0) * lmn * sc * F.col("s1c")
        + sc * sc * F.col("s2c"))
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .where(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("_dot", dot)
        .select(
            "query_id", "neighbor_id",
            F.round(num / (den_q * den_c), 4).alias("cos_sq8"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sq8").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )


# ---------------------------------------------------------------------------
# MMR diversified re-ranking (Carbonell & Goldstein, SIGIR 1998): greedy
# argmax of lambda*rel - (1-lambda)*max-sim-to-selected.  The dedup-aware
# retrieval step a training-data curator runs between ANN candidates and
# the final context/selection list — near-duplicate neighbors are exactly
# what embedding search over a crawl returns most of.
# ---------------------------------------------------------------------------

MMR_LAMBDA_NUM = 7   # lambda = 0.7: score = 7*rel_bp - 3*maxsim_bp
MMR_LAMBDA_DEN = 10
MMR_QUERIES = 6
MMR_CAND_K = 8
MMR_SELECT_K = 4


def mmr_rerank(
    embeddings: DataFrame,
    n_queries: int = MMR_QUERIES,
    cand_k: int = MMR_CAND_K,
    select_k: int = MMR_SELECT_K,
) -> DataFrame:
    """(query_id, vec_id, mmr_rank, rel_bp, score) — the greedy MMR walk
    over each query's brute-force candidate list: round r picks the
    available candidate maximizing ``MMR_LAMBDA_NUM*rel_bp -
    (MMR_LAMBDA_DEN-MMR_LAMBDA_NUM)*max(sim to already-selected)``, ties
    to the lowest vec_id; round 1 has an empty selected set, so it picks
    pure relevance.  Similarities land as integer basis points
    (round(cos*10000)) BEFORE any comparison, so the argmax is an exact
    integer decision in both engines — the float boundary is one rounding,
    not an ordering.

    Scale: candidate generation is whatever ANN face feeds this (brute
    here for the oracle; IVF/LSH in production — the re-rank is agnostic);
    the pair-sim table is cand_k^2 rows PER QUERY, keyed by query_id, and
    the greedy loop is select_k bounded rounds of keyed joins on that
    per-query sliver — each round one join + one windowed argmax, frames
    localCheckpointed so the round-over-round plan stays flat.  Nothing
    is ever corpus x corpus; the corpus-sized work stays in the ANN
    stage."""
    emb = embeddings.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    topk = brute_force_topk(embeddings, n_queries=n_queries, k=cand_k)
    cand = topk.select(
        "query_id", F.col("neighbor_id").alias("vec_id"),
        F.round(F.col("cos_sim") * 10000).cast("long").alias("rel_bp"),
    ).persist()
    a = cand.select("query_id", F.col("vec_id").alias("a"))
    b = cand.select("query_id", F.col("vec_id").alias("b"))
    pair_sim = F.round(_cosine(F.col("va"), F.col("vb")) * 10000) \
        .cast("long")
    sims = (
        a.join(b, "query_id")
        .where(F.col("a") != F.col("b"))
        .join(emb.select(F.col("vec_id").alias("a"),
                         F.col("v").alias("va")), "a")
        .join(emb.select(F.col("vec_id").alias("b"),
                         F.col("v").alias("vb")), "b")
        .select("query_id", "a", "b", pair_sim.alias("sim_bp"))
        .persist()
    )
    sims.count()
    pen = MMR_LAMBDA_DEN - MMR_LAMBDA_NUM
    sel = cand.select(
        "query_id", "vec_id",
        F.lit(0).cast("int").alias("mmr_rank"),
        "rel_bp", F.lit(0).cast("long").alias("score"),
    ).limit(0)
    for r in range(1, select_k + 1):
        ms = (
            sims.join(
                sel.select("query_id", F.col("vec_id").alias("b")),
                ["query_id", "b"],
            )
            .groupBy("query_id", "a")
            .agg(F.max("sim_bp").alias("ms"))
            .select(F.col("query_id").alias("mq"),
                    F.col("a").alias("mv"), "ms")
        )
        avail = cand.join(
            sel.select("query_id", "vec_id"), ["query_id", "vec_id"],
            "left_anti",
        )
        scored = avail.join(
            ms,
            (avail.query_id == ms.mq) & (avail.vec_id == ms.mv),
            "left",
        ).select(
            "query_id", "vec_id", "rel_bp",
            (MMR_LAMBDA_NUM * F.col("rel_bp")
             - pen * F.coalesce("ms", F.lit(0))).alias("score"),
        )
        w = Window.partitionBy("query_id").orderBy(
            F.col("score").desc(), F.col("vec_id").asc()
        )
        pick = (
            scored.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select("query_id", "vec_id",
                    F.lit(r).cast("int").alias("mmr_rank"),
                    "rel_bp", "score")
        )
        sel = sel.unionByName(pick).localCheckpoint(eager=True)
    out = sel.orderBy("query_id", "mmr_rank").localCheckpoint(eager=True)
    cand.unpersist()
    sims.unpersist()
    return out
