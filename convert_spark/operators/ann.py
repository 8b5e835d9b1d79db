"""Similarity search over embedding columns: brute-force baseline and the
LSH-bucketed scale path.

Task-brief requirement: ANN over ``array<float>`` — brute-force cosine
top-k as the correctness baseline (queries.q_ann_cosine, oracle-checked),
plus a random-hyperplane LSH variant for scale: each vector gets B band
keys from H fixed random hyperplanes (seeded — identical across
executors/runs); candidates = pairs sharing any band; exact cosine rerank
on the candidates only.

Scale shape: the shuffle key is the band bucket, never the cross product;
bucket sizes are bounded by data density, and the hyperplane matrix is a
tiny broadcast. Recall improves with more bands (union of candidates);
tests measure recall against the brute-force baseline.

Five shapes, picked by contract:
* ``brute_topk_broadcast`` / ``neardup_broadcast``: broadcast-matmul,
  ONLY for a genuinely small side (enforced by MAX_BROADCAST_ROWS),
* ``neardup_blocked``: exact all-pairs via distributed block outer
  product — the shape when the pair set must be complete at a loose
  threshold (where bucketing is mathematically non-selective),
* ``neardup_lsh``: BUCKETED near-dup pair generation + exact rerank —
  the 100 TB dedup default in the realistic near-duplicate regime,
* ``ann_lsh_topk``: approximate top-k, hash-bucketed join — the 100 TB
  shape when recall < 1 is acceptable and data has no cluster structure,
* ``ivf_topk``: approximate, coarse-quantizer (spherical k-means)
  buckets with n_probe search — tighter candidate sets than LSH when
  the embeddings cluster.

Hot buckets (one dense cluster concentrating a band bucket or centroid)
are salted into bounded shards by ``salt_hot_keys`` in every bucketed
path — identical candidates, bounded per-reducer group size.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..plans.checkpoints import hold
from ..session import fence, spread

_SEED = 42


# Hard ceiling for any driver-side collect of a "small" side. Broadcast
# shapes are only valid when the broadcast side is genuinely bounded; a
# 100 TB table sampled at 10% must take the blocked/LSH path instead.
MAX_BROADCAST_ROWS = 100_000


def _hyperplanes(dim: int, n_bits: int, seed: int = _SEED) -> np.ndarray:
    rng = np.random.RandomState(seed)
    return rng.normal(size=(n_bits, dim)).astype(np.float64)


def _collect_small(df: DataFrame, what: str, max_rows: int = MAX_BROADCAST_ROWS):
    """toPandas with an enforced size bound: fetch max_rows+1 and fail fast
    if the side is not actually small (guards the broadcast-only shapes)."""
    pdf = df.limit(max_rows + 1).toPandas()
    if len(pdf) > max_rows:
        raise ValueError(
            f"{what}: side exceeds {max_rows} rows — use the blocked/LSH "
            "path (neardup_blocked / ann_lsh_topk); broadcasting it would "
            "bottleneck on the driver"
        )
    return pdf


def brute_topk_broadcast(
    queries: DataFrame,
    refs: DataFrame,
    k: int = 5,
    id_q: str = "query_id",
    id_r: str = "ref_id",
    vec_col: str = "embedding",
    max_rows_override: int | None = None,
) -> DataFrame:
    """Brute-force cosine top-k, cluster shape: broadcast the (small) query
    matrix, one numpy matmul pass over each ref partition emitting local
    top-k candidates, then a global window top-k. The refs side streams —
    no cross join ever materializes; per-partition candidate volume is
    n_queries x k.

    Same ranking contract as queries.q_ann_cosine (sim rounded to 6dp,
    ties by ref id) — the two implementations agree (tested)."""
    import pandas as pd

    q_pdf = _collect_small(
        queries.select(id_q, vec_col),
        "brute_topk_broadcast queries",
        max_rows_override or MAX_BROADCAST_ROWS,
    )
    q_ids = q_pdf[id_q].to_numpy()
    q_mat = np.stack([np.asarray(v, dtype=np.float64) for v in q_pdf[vec_col]])
    q_norm = q_mat / np.linalg.norm(q_mat, axis=1, keepdims=True)
    bc = queries.sparkSession.sparkContext.broadcast((q_ids, q_norm))

    out_schema = f"{id_q} long, {id_r} long, sim_r double"

    def local_topk(batches):
        ids, qn = bc.value
        for pdf in batches:
            r_ids = pdf[id_r].to_numpy()
            r_mat = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            r_norm = r_mat / np.linalg.norm(r_mat, axis=1, keepdims=True)
            sims = np.round(qn @ r_norm.T, 6)  # (n_q, n_refs_batch)
            n_take = min(k + 1, sims.shape[1])  # +1 covers self-match removal downstream
            # tie-safe local cut: keep EVERY ref whose sim >= the local
            # (k+1)-th value — argpartition alone would drop boundary ties
            # arbitrarily and break the global ref-id tiebreak contract
            kth = np.partition(-sims, n_take - 1, axis=1)[:, n_take - 1]
            rows, cols = np.where(sims >= -kth[:, None])
            yield pd.DataFrame(
                {id_q: ids[rows], id_r: r_ids[cols], "sim_r": sims[rows, cols]}
            )

    cand = refs.select(id_r, vec_col).mapInPandas(local_topk, schema=out_schema)
    cand = cand.filter(F.col(id_q) != F.col(id_r))
    ranked = cand.withColumn(
        "rank",
        F.row_number().over(Window.partitionBy(id_q).orderBy(F.col("sim_r").desc(), F.col(id_r).asc())),
    )
    return ranked.filter(F.col("rank") <= k).select(id_q, id_r, "rank")


def neardup_broadcast(
    anchors: DataFrame,
    refs: DataFrame,
    threshold: float,
    id_a: str = "a_id",
    id_b: str = "b_id",
    vec_col: str = "embedding",
    max_rows_override: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, broadcast shape: the (small)
    anchor matrix is broadcast; each ref partition emits only the pairs
    whose 6dp-rounded cosine clears ``threshold`` (and a_id < b_id).
    Output: (a_id, b_id, sim_r)."""
    import pandas as pd

    a_pdf = _collect_small(
        anchors.select(id_a, vec_col),
        "neardup_broadcast anchors",
        max_rows_override or MAX_BROADCAST_ROWS,
    )
    a_ids = a_pdf[id_a].to_numpy()
    a_mat = np.stack([np.asarray(v, dtype=np.float64) for v in a_pdf[vec_col]])
    a_norm = a_mat / np.linalg.norm(a_mat, axis=1, keepdims=True)
    bc = anchors.sparkSession.sparkContext.broadcast((a_ids, a_norm))

    def emit(batches):
        ids, an = bc.value
        for pdf in batches:
            r_ids = pdf[id_b].to_numpy()
            r_mat = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            r_norm = r_mat / np.linalg.norm(r_mat, axis=1, keepdims=True)
            sims = np.round(an @ r_norm.T, 6)
            ai, bi = np.where((sims >= threshold) & (ids[:, None] < r_ids[None, :]))
            if ai.size:
                yield pd.DataFrame({id_a: ids[ai], id_b: r_ids[bi], "sim_r": sims[ai, bi]})

    return refs.select(F.col(id_b), vec_col).mapInPandas(emit, schema=f"{id_a} long, {id_b} long, sim_r double")


def neardup_blocked(
    a: DataFrame,
    b: DataFrame,
    threshold: float,
    id_a: str = "a_id",
    id_b: str = "b_id",
    vec_col: str = "embedding",
    block_rows: int = 4096,
    n_blocks_a: int | None = None,
    n_blocks_b: int | None = None,
) -> DataFrame:
    """EXACT embedding-cosine near-duplicate pairs, distributed block
    outer product — the 100 TB shape for all-pairs similarity when no
    side fits a broadcast.

    Both sides are packed into matrix blocks of <= ``block_rows`` vectors
    (groupBy on a deterministic id-derived block key, collect_list —
    each block a few MB). The block-pair grid is a crossJoin of the two
    SMALL block tables (n_a/block x n_b/block rows, each carrying two
    packed matrices), and each grid cell does one numpy matmul emitting
    only the qualifying pairs. Nothing flows through the driver; shuffle
    volume is the provably-minimal n_blocks_b*|A| + n_blocks_a*|B| of a
    blocked exact product, and per-task memory is bounded by two blocks.

    Exactness (vs the brute/oracle result) is what distinguishes this
    from ann_lsh_topk: use LSH when approximate recall is acceptable,
    this when the pair set must be complete.
    """
    import pandas as pd

    def packed(df, idc, nb):
        cnt = df.count()
        blocks = nb or max(1, math.ceil(cnt / block_rows))
        return (
            df.select(
                F.pmod(F.xxhash64(F.col(idc)), F.lit(blocks)).alias("blk"),
                F.struct(F.col(idc).alias("id"), F.col(vec_col).cast("array<double>").alias("v")).alias("s"),
            )
            .groupBy("blk")
            .agg(F.collect_list("s").alias("block")),
            blocks,
        )

    pa, _ = packed(a, id_a, n_blocks_a)
    pb, _ = packed(b, id_b, n_blocks_b)
    grid = pa.select(F.col("block").alias("ablock")).crossJoin(
        pb.select(F.col("block").alias("bblock"))
    )

    def emit(batches):
        for pdf in batches:
            for arow, brow in zip(pdf["ablock"], pdf["bblock"]):
                a_ids = np.asarray([r["id"] for r in arow], dtype=np.int64)
                b_ids = np.asarray([r["id"] for r in brow], dtype=np.int64)
                am = np.stack([np.asarray(r["v"], dtype=np.float64) for r in arow])
                bm = np.stack([np.asarray(r["v"], dtype=np.float64) for r in brow])
                am /= np.linalg.norm(am, axis=1, keepdims=True)
                bm /= np.linalg.norm(bm, axis=1, keepdims=True)
                sims = np.round(am @ bm.T, 6)
                ai, bi = np.where((sims >= threshold) & (a_ids[:, None] < b_ids[None, :]))
                if ai.size:
                    yield pd.DataFrame(
                        {id_a: a_ids[ai], id_b: b_ids[bi], "sim_r": sims[ai, bi]}
                    )

    return grid.mapInPandas(emit, schema=f"{id_a} long, {id_b} long, sim_r double")


def lsh_vec_keys(mat: np.ndarray, planes: np.ndarray, bands: int, bits_per_band: int) -> np.ndarray:
    """(n, bands) int64 hyperplane-LSH keys: per band, the sign bits of
    ``bits_per_band`` projections packed low bit first, plus the band
    index in bits 32 and up."""
    bits = (mat @ planes.T) > 0  # (n, bands*bits)
    weights = 1 << np.arange(bits_per_band, dtype=np.int64)
    # one reshaped matmul: (n, bands, bits) @ weights + band prefix
    ks = bits.reshape(len(mat), bands, bits_per_band) @ weights
    return ks + (np.arange(bands, dtype=np.int64) << 32)[None, :]


def with_lsh_keys(df: DataFrame, vec_col: str = "embedding", dim: int = 64, bands: int = 8, bits_per_band: int = 8) -> DataFrame:
    """Add ``bucket`` rows: (*, band, key) — one row per band, exploded."""
    planes = _hyperplanes(dim, bands * bits_per_band)

    @F.pandas_udf("array<long>")
    def keys(vecs: pd.Series) -> pd.Series:
        mat = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])
        return pd.Series(list(lsh_vec_keys(mat, planes, bands, bits_per_band)))

    return fence(df.withColumn("lsh_keys", keys(F.col(vec_col))), "lsh_keys").select(
        "*", F.posexplode("lsh_keys").alias("band", "bucket")
    ).drop("lsh_keys")


def salt_hot_keys(
    q: DataFrame,
    r: DataFrame,
    keys: list[str],
    cap: int,
    id_r: str,
) -> tuple[DataFrame, DataFrame, list[str]]:
    """Explicit hot-bucket handling for bucketed similarity joins: any
    join-key group holding more than ``cap`` ref rows is split into
    ceil(count/cap) salt shards (deterministic per-ref salt from the ref
    id), and the query side replicates across exactly that bucket's
    shards. The candidate set is UNCHANGED — every query still meets
    every ref of its bucket — but per-reducer group size is bounded by
    ~cap, so one dense cluster (an urban tile, a boilerplate near-dup
    blob) can no longer pin a single task. Only the HOT buckets enter the
    (broadcast) shard table — at most |refs|/cap rows by construction.
    Returns (q', r', join keys + salt)."""
    cnt = r.groupBy(*keys).agg(F.count(F.lit(1)).alias("__cnt"))
    hot = cnt.filter(F.col("__cnt") > cap).select(
        *keys, F.ceil(F.col("__cnt") / F.lit(cap)).cast("int").alias("__g")
    )
    r2 = (
        r.join(F.broadcast(hot), keys, "left")
        .withColumn(
            "__salt",
            F.pmod(F.xxhash64(F.col(id_r)), F.coalesce(F.col("__g"), F.lit(1))).cast("int"),
        )
        .drop("__g")
    )
    q2 = (
        q.join(F.broadcast(hot), keys, "left")
        .withColumn(
            "__salt",
            F.explode(F.sequence(F.lit(0), F.coalesce(F.col("__g"), F.lit(1)) - 1)),
        )
        .drop("__g")
    )
    return q2, r2, keys + ["__salt"]


def _dot_expr(a, b):
    """Sequential left-to-right fold dot product. An unrolled
    left-associated 64-term getItem sum was measured 5x SLOWER than this
    fold at sf1.0 (the giant expression defeats codegen), so the HOF form
    IS the fast path; it also fixes the exact fp summation order the KAT
    twins pin (tests/sketch_reference_impl.cosine_s)."""
    return F.aggregate(F.zip_with(a, b, lambda p, q: p * q), F.lit(0.0), lambda acc, v: acc + v)


def _norm_expr(v):
    """sqrt(dot(v, v)) — precompute ONCE per vector before a candidate
    join: evaluating it per candidate pair triples the rerank's JVM work
    (the dominant cost of the bucketed paths at scale). The value is
    bit-identical to the inline form, so sims don't move."""
    return F.sqrt(_dot_expr(v, v))


def _rerank_topk(pairs: DataFrame, qp: DataFrame, rp: DataFrame, k: int, id_q: str,
                 id_r: str, cached: list[DataFrame]) -> DataFrame:
    """The shared tail of the approximate top-k paths: candidate id pairs
    (``id_q``, ``id_r``) re-join their vectors (``qp``: id_q + q_emb,
    ``rp``: id_r + r_emb, each normed once per vector), exact cosine
    rerank, window top-k (6dp rounding, ref-id tiebreak — the brute
    baseline's contract); ``cached`` live as long as the result."""
    q_vecs = qp.withColumn("q_n", _norm_expr(F.col("q_emb")))  # norm once per vector
    r_vecs = rp.withColumn("r_n", _norm_expr(F.col("r_emb")))
    cand = pairs.join(q_vecs, id_q).join(r_vecs, id_r)
    sim = _dot_expr(F.col("q_emb"), F.col("r_emb")) / (F.col("q_n") * F.col("r_n"))
    ranked = cand.withColumn("sim_r", F.round(sim, 6)).withColumn(
        "rank",
        F.row_number().over(Window.partitionBy(id_q).orderBy(F.col("sim_r").desc(), F.col(id_r).asc())),
    )
    out = ranked.filter(F.col("rank") <= k).select(id_q, id_r, "sim_r", "rank")
    return hold(out, *cached)


def neardup_lsh(
    vectors: DataFrame,
    threshold: float,
    id_col: str = "id",
    vec_col: str = "emb",
    dim: int = 64,
    bands: int = 64,
    bits_per_band: int = 16,
    bucket_cap: int | None = 4096,
) -> DataFrame:
    """BUCKETED near-duplicate pair generation — the 100 TB dedup default:
    LSH band self-join for candidates, exact JVM-side cosine rerank at
    ``threshold``, output (a_id, b_id, sim_r) with a_id < b_id.

    The shuffle key is (band, bucket); the cross product never
    materializes and candidate volume is bounded by bucket co-occupancy.
    Band geometry (round 8: 64 bands x 16 bits, was 16 x 8): random-pair
    bucket collision is ~2^-16 per band, so the expected random-candidate
    volume drops ~64x vs 16 x 8 (it dominated the pair-gen wall on
    isotropic corpora) while recall IMPROVES everywhere that matters:
    a pair at sim 0.97 (per-band collision p^16 ~ 0.27) is missed with
    probability (1-0.27)^64 ~ 2e-9 (vs 2e-6 before), at the 0.9
    threshold boundary itself ~4e-3 (unchanged vs the old ~4e-3). The
    near-1.0 recall guarantee applies to pairs well ABOVE the threshold
    — true near-duplicates, which is the regime this default targets
    (the planted-dup corpus sits at 0.98-0.995 and pytest asserts
    pair-set equality vs the exact blocked product there). For corpora
    with mass near the boundary, raise ``bands`` (miss ~
    (1-p^bits)^bands). For loose thresholds (sim barely above the
    random-pair distribution — e.g. 0.3 on isotropic vectors, ~2.4
    sigma) NO bucketing scheme is selective: use ``neardup_blocked``
    (exact, all-pairs) there and accept the quadratic cost, because
    that's what the semantics cost.
    """
    # SLIM candidate plan (round 5): the (band, bucket) self-join and the
    # pair dedup carry ONLY ids — never the vectors. Carrying embeddings
    # through the candidate shuffle multiplies the exchanged bytes by the
    # vector width (~60x for 64-dim doubles vs two longs), which is the
    # difference between shuffling pair IDs and shuffling the corpus
    # itself at 100 TB. Vectors re-join by id for the rerank only.
    #
    # The input may itself be a COMPUTED corpus (joins/UDFs), and the slim
    # plan reads it three times (signature pass + both rerank vector
    # branches) — persist a PRIVATE (id, vec) projection for the
    # operator's lifetime (at cluster scale the materialized corpus is a
    # storage-backed artifact instead). Persisting a private projection,
    # not the caller's DataFrame, means the operator never mutates the
    # input's cache state or collides with a caller-chosen storage level
    # (ADVICE r5).
    corpus = spread(
        vectors.select(F.col(id_col), F.col(vec_col).cast("array<double>").alias("__v"))
    ).persist()
    keyed = (
        with_lsh_keys(corpus, "__v", dim, bands, bits_per_band)
        # one signature pass shared by both self-join branches AND the
        # hot-bucket count
        .select(F.col(id_col), "band", "bucket")
        .persist()
    )
    vecs = corpus.withColumn("__n", _norm_expr(F.col("__v")))  # norm once per vector
    a = keyed.select(F.col(id_col).alias("a_id"), "band", "bucket")
    b = keyed.select(F.col(id_col).alias("b_id"), "band", "bucket")
    join_keys = ["band", "bucket"]
    if bucket_cap:
        a, b, join_keys = salt_hot_keys(a, b, join_keys, bucket_cap, "b_id")
    cand = (
        a.join(b, join_keys, "inner")
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id")
        .dropDuplicates(["a_id", "b_id"])
    )
    # pin the rerank's parallelism (round 8): the deduped id-pair table is
    # BYTE-light but each row costs a 64-dim fold downstream, and AQE
    # coalesces the ENSURE exchange by bytes alone (measured: 16 s of CPU
    # squeezed into 6 tasks at 10x bench scale). An explicit keyed
    # repartition is exempt from AQE coalescing; the a_id join reuses the
    # partitioning, so no extra exchange is added. Width = the session's
    # configured shuffle partitions — by definition the same width the
    # ENSURE exchange would have had before coalescing (defaultParallelism
    # is only the fallback). Tradeoff: a pinned exchange also opts out of
    # AQE's skew-split, so every pair of one a_id runs in one task, and
    # that tail is NOT bounded. ``salt_hot_keys`` caps the ref rows of
    # each join shard, not the distinct partners of a doc: the docs of a
    # C-doc near-dup cluster share buckets, so after the dedup the
    # cluster's minimum id still collects about C pairs (the cluster
    # about C^2/2, the lower ids taking the most) — for C = 50k, 50k
    # 64-dim folds in one task. A hash sub-key on this repartition would
    # spread it; none is added yet.
    try:
        _width = int(vectors.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        _width = vectors.sparkSession.sparkContext.defaultParallelism
    cand = cand.repartition(_width, "a_id")
    cand = cand.join(
        vecs.select(F.col(id_col).alias("a_id"), F.col("__v").alias("a_v"), F.col("__n").alias("a_n")),
        "a_id",
    ).join(
        vecs.select(F.col(id_col).alias("b_id"), F.col("__v").alias("b_v"), F.col("__n").alias("b_n")),
        "b_id",
    )
    sim = _dot_expr(F.col("a_v"), F.col("b_v")) / (F.col("a_n") * F.col("b_n"))
    out = (
        cand.withColumn("sim_r", F.round(sim, 6))
        .filter(F.col("sim_r") >= threshold)
        .select("a_id", "b_id", "sim_r")
    )
    return hold(out, keyed, corpus)


def ann_lsh_topk(
    queries: DataFrame,
    refs: DataFrame,
    k: int = 5,
    dim: int = 64,
    bands: int = 8,
    bits_per_band: int = 8,
    id_q: str = "query_id",
    id_r: str = "ref_id",
    vec_col: str = "embedding",
    bucket_cap: int | None = 4096,
) -> DataFrame:
    """LSH-bucketed approximate top-k cosine neighbors.

    Join on (band, bucket), dedupe candidate pairs, exact cosine rerank,
    window top-k. Same rounding/tie rules as the brute-force baseline
    (queries.q_ann_cosine) so results are comparable. Hot buckets (one
    dense cluster sharing a band key) are salted into <= bucket_cap
    shards (salt_hot_keys) — identical candidates, bounded reducers."""
    # SLIM candidate plan (round 5): ids only through the bucket join and
    # the pair dedup; vectors re-join by id for the rerank (see
    # neardup_lsh — shuffling pair ids, not the corpus)
    # ONE spread projection per side (round 8): the signature UDF, the
    # norm fold (an interpreted higher-order function — the costliest
    # per-row expression here) and the rerank vector branches all build on
    # it, so none of them can run at raw-scan parallelism (the embeddings
    # parquet arrives as 1-2 row groups: the ref-side norm+exchange stage
    # measured 9.9 s CPU on TWO tasks at 10x bench scale)
    qp = spread(
        queries.select(F.col(id_q), F.col(vec_col).cast("array<double>").alias("q_emb"))
    )
    rp = spread(
        refs.select(F.col(id_r), F.col(vec_col).cast("array<double>").alias("r_emb"))
    )
    q = with_lsh_keys(qp, "q_emb", dim, bands, bits_per_band).select(
        F.col(id_q), "band", "bucket"
    )
    r = with_lsh_keys(rp, "r_emb", dim, bands, bits_per_band).select(
        F.col(id_r), "band", "bucket"
    )
    join_keys = ["band", "bucket"]
    cached = []
    if bucket_cap:
        # persist the keyed refs: salting's bucket-size count is an extra
        # full pass that would otherwise re-run the signature UDF matmul
        # over every ref
        r = r.persist()
        cached.append(r)
        q, r, join_keys = salt_hot_keys(q, r, join_keys, bucket_cap, id_r)
    pairs = (
        q.join(r, join_keys, "inner")
        .filter(F.col(id_q) != F.col(id_r))
        .select(id_q, id_r)
        .dropDuplicates([id_q, id_r])
    )
    return _rerank_topk(pairs, qp, rp, k, id_q, id_r, cached)


def _spherical_kmeans(mat: np.ndarray, k: int, iters: int = 8, seed: int = _SEED) -> np.ndarray:
    """Deterministic spherical k-means (cosine): seeded init, fixed
    iteration count, pure numpy — identical centroids on every run/host."""
    rng = np.random.RandomState(seed)
    m = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    cent = m[rng.choice(len(m), size=min(k, len(m)), replace=False)].copy()
    for _ in range(iters):
        assign = (m @ cent.T).argmax(axis=1)
        for c in range(len(cent)):
            sel = m[assign == c]
            if len(sel):
                v = sel.sum(axis=0)
                n = np.linalg.norm(v)
                if n > 0:
                    cent[c] = v / n
    return cent


MAX_AUTO_CENTROIDS = 4096


def _auto_n_centroids(n: int, cap: int = MAX_AUTO_CENTROIDS) -> int:
    """sqrt-scaled centroid count: each probe scans ~sqrt(n) refs instead
    of a fixed fraction of the corpus (16 fixed centroids means 1/16 of
    10^10 vectors per probe — not a 100 TB shape). Floor 4, cap 4096 so
    the broadcast matrix stays a few MB."""
    return max(4, min(int(math.isqrt(max(n, 1))), cap))


def _refine_centroids(nv: DataFrame, cent: np.ndarray, dim: int, iters: int) -> np.ndarray:
    """Executor-side Lloyd refinement over the FULL ref set: per
    iteration, broadcast the centroid matrix, assign each ref its nearest
    centroid (one Arrow matmul pass), and compute per-centroid vector
    sums as ``dim`` map-side-combined F.sum aggregates — the driver only
    ever receives k x (dim+1) partial totals, never vectors. Centroids
    renormalize to the unit sphere and round to 9 dp so cross-partition
    float summation order can't leak into downstream assignment.
    ``nv`` must hold unit-normalized ``array<double>`` in column __nv."""
    sc = nv.sparkSession.sparkContext
    for _ in range(iters):
        bc_c = sc.broadcast(cent)

        @F.pandas_udf("int")
        def nearest(vecs: pd.Series) -> pd.Series:
            c = bc_c.value
            m = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])
            return pd.Series((m @ c.T).argmax(axis=1).astype(np.int32))

        agg = (
            nv.withColumn("__c", nearest(F.col("__nv")))
            .groupBy("__c")
            .agg(*[F.sum(F.col("__nv")[i]).alias(f"s{i}") for i in range(dim)])
            .toPandas()
        )
        new = cent.copy()
        for _, row in agg.iterrows():
            v = np.asarray([row[f"s{i}"] for i in range(dim)], dtype=np.float64)
            norm = np.linalg.norm(v)
            if norm > 0:
                new[int(row["__c"])] = v / norm
        cent = np.round(new, 9)
    return cent


def ivf_topk(
    queries: DataFrame,
    refs: DataFrame,
    k: int = 5,
    n_centroids: int | None = 16,
    n_probe: int = 4,
    sample_rows: int = 4096,
    id_q: str = "query_id",
    id_r: str = "ref_id",
    vec_col: str = "embedding",
    bucket_cap: int | None = 4096,
    refine_iters: int = 2,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k cosine neighbors — the
    coarse-quantizer counterpart to ann_lsh_topk.

    Train: a deterministic bounded sample of refs (TakeOrdered by id hash
    — no full shuffle) fits spherical k-means on the driver; the centroid
    matrix (n_centroids x dim) broadcasts. With ``n_centroids=None`` the
    count scales with the corpus (~sqrt(n), capped — _auto_n_centroids)
    and training moves off the driver: the seeded sample only INITIALIZES
    the centroids, then ``refine_iters`` Lloyd iterations run over the
    full ref set with executor-side partial sums (_refine_centroids; the
    driver receives k x dim totals per iteration, never vectors). The
    explicit-``n_centroids`` path is byte-stable against the scalar twin
    KAT (tests/sketch_reference_impl.ivf_topk_s); the auto path is
    deterministic up to cross-partition float summation order — refined
    centroids round to 9 dp, so assignments can differ between runs only
    for refs within ~1e-9 of a centroid-decision boundary. Index: every ref is
    assigned its nearest centroid (one Arrow batch matmul). Search: each
    query probes its ``n_probe`` nearest centroids and equi-joins refs on
    centroid id — the shuffle key is the centroid, never a cross product;
    exact cosine rerank + window top-k on the probed candidates only
    (same 6dp rounding / ref-id tiebreak contract as the brute baseline).

    Scale notes: candidate volume per query is bounded by the probed
    buckets' sizes; a skewed centroid (one dense cluster) concentrating a
    bucket is salted explicitly into <= bucket_cap shards
    (salt_hot_keys — identical candidates, bounded reducers), with AQE
    skew-join as the backstop. Recall grows with n_probe (tested vs
    brute).
    """
    import pandas as pd

    auto = n_centroids is None
    if auto:
        n_centroids = _auto_n_centroids(refs.count())
    samp = (
        refs.select(F.col(vec_col))
        .orderBy(F.xxhash64(F.col(id_r)))
        .limit(sample_rows)
        .toPandas()
    )
    mat = np.stack([np.asarray(v, dtype=np.float64) for v in samp[vec_col]])
    cent = _spherical_kmeans(mat, n_centroids)
    if auto and refine_iters > 0:
        dim = mat.shape[1]
        v = refs.select(F.col(vec_col).cast("array<double>").alias("__v"))
        nv = v.withColumn("__n", _norm_expr(F.col("__v"))).select(
            F.transform("__v", lambda x: x / F.col("__n")).alias("__nv")
        )
        cent = _refine_centroids(nv, cent, dim, refine_iters)
    bc = refs.sparkSession.sparkContext.broadcast(cent)

    @F.pandas_udf("int")
    def nearest_centroid(vecs: pd.Series) -> pd.Series:
        c = bc.value
        m = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])
        m = m / np.linalg.norm(m, axis=1, keepdims=True)
        return pd.Series((m @ c.T).argmax(axis=1).astype(np.int32))

    @F.pandas_udf("array<int>")
    def probe_centroids(vecs: pd.Series) -> pd.Series:
        c = bc.value
        m = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])
        m = m / np.linalg.norm(m, axis=1, keepdims=True)
        sims = m @ c.T
        order = np.argsort(-sims, axis=1, kind="stable")[:, : min(n_probe, c.shape[0])]
        return pd.Series(list(order.astype(np.int32)))

    # SLIM candidate plan (round 5): the centroid equi-join carries only
    # (id, centroid); vectors re-join by id for the rerank (see
    # neardup_lsh — shuffling pair ids, not the corpus)
    # ONE spread projection per side (round 8, cf. ann_lsh_topk): the
    # assignment UDFs, the interpreted norm folds and the rerank vector
    # branches all build on it instead of re-reading the 1-2-row-group scan
    rp = spread(
        refs.select(F.col(id_r), F.col(vec_col).cast("array<double>").alias("r_emb"))
    )
    qp = spread(
        queries.select(F.col(id_q), F.col(vec_col).cast("array<double>").alias("q_emb"))
    )
    r = fence(rp.withColumn("centroid", nearest_centroid(F.col("r_emb"))), "centroid").select(id_r, "centroid")
    q = fence(qp.withColumn("probes", probe_centroids(F.col("q_emb"))), "probes").select(
        id_q, F.explode("probes").alias("centroid")
    )
    join_keys = ["centroid"]
    cached = []
    if bucket_cap:
        # persist the assigned refs: the salting count pass would otherwise
        # re-run the nearest_centroid UDF over every ref
        r = r.persist()
        cached.append(r)
        q, r, join_keys = salt_hot_keys(q, r, join_keys, bucket_cap, id_r)
    pairs = q.join(r, join_keys, "inner").filter(F.col(id_q) != F.col(id_r)).select(id_q, id_r)
    return _rerank_topk(pairs, qp, rp, k, id_q, id_r, cached)
