"""Similarity search over embedding columns (array<float>).

Two paths:

- brute-force cosine top-k: exact; the query side is broadcast so the
  big side streams — cost is one pass over the corpus per batch of
  queries (this is the correctness baseline and is fine whenever the
  query set is small);
- random-hyperplane LSH: deterministic pseudo-random planes hashed from
  (plane, dim) pairs, sign-bit bucket key, candidates = bucket
  collisions (equi-join, shuffle on bucket key), exact cosine only on
  candidates. The scale path: no cross product, bucket key join
  partitions like any other join, multi-probe = more plane sets.

Dot products use ``F.zip_with`` + ``F.aggregate`` — JVM codegen, no
Python. Embeddings cast to double before accumulating.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.functions import pandas_udf
from pyspark.sql.window import Window


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(
            a,
            F.lit(0.0),
            lambda acc, v: acc + v.cast("double") * v.cast("double"),
        )
    )


# NB (measured at sf0.1): unrolling the dot product into a flat
# element_at chain is SLOWER than the higher-order-function form — the
# 64-term expression blows past codegen method limits and falls back to
# the interpreted path. Keep HOF dots; the win that matters is hoisting
# the per-vector norms out of the quadratic pair stage.


def cosine(a, b):
    return _dot(a, b) / (_norm(a) * _norm(b))


def _normalized(vec_col):
    """L2-normalized copy of an array<float|double> column (r15).

    Written as ``zip_with(vec, array_repeat(norm, size(vec)), x/nn)``
    rather than ``transform(vec, x -> x / norm)``: inside a transform
    lambda the norm subexpression (itself an O(d) aggregate over the
    array) is re-evaluated PER ELEMENT — O(d²) per row, measured 4-5x
    slower on the 64-dim bench corpus — while ``array_repeat``'s
    arguments are evaluated once per row. Values are bit-identical
    (the same division by the same norm, per element)."""
    col = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    return F.zip_with(
        col,
        F.array_repeat(_norm(col), F.size(col)),
        lambda x, nn: x.cast("double") / nn,
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_pairs: int | None = 100_000_000,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    Output: (query_id, neighbor_id, cos_sim, rank). Self-matches are
    excluded. Ties order by neighbor id (deterministic). Refuses
    |queries| x |corpus| beyond ``max_pairs`` — at scale use
    ``lsh_topk`` / ``ivf_topk``.
    """
    from .guards import refuse_quadratic_pair

    refuse_quadratic_pair(
        queries, corpus, max_pairs, "brute_force_topk", "lsh_topk/ivf_topk"
    )
    # norms are per-vector, not per-pair: compute each side's norm once
    # (linear) so the quadratic stage pays only one dot per pair
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        _norm(F.col(vec_col)).alias("q_norm"),
    )
    # widen: the per-candidate dot runs where the corpus scan runs —
    # one row group means ONE task scoring every (query x corpus)
    # pair even though the expression is JVM-side (same hazard class
    # as the ivf_topk rehearsal catch)
    from .dedup import widen

    # NO bytes-per-task floor here (unlike the GEMM-family sites): the
    # per-candidate scoring below is |queries| interpreted HOF dots per
    # CORPUS ROW — orders of magnitude more CPU per byte than a numpy
    # batch GEMM, so byte-flooring under-parallelizes it (measured:
    # ann_cosine_topk 0.9 -> 3.1 s at ~6 partitions; full-parallelism
    # widen restored it).
    c = widen(corpus).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        _norm(F.col(vec_col)).alias("c_norm"),
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                _dot(F.col("q_vec"), F.col("c_vec"))
                / (F.col("q_norm") * F.col("c_norm")),
                6,
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )



#: Bytes-per-task floor for the GEMM-family kernels (kmeans Lloyd
#: accumulate, PQ encode/assign): their numpy work per byte is light
#: enough that shattering a small corpus across the whole cluster
#: costs more in fixed Python/Arrow task round-trips than it buys in
#: parallelism (measured: 2000 rows split 32 ways ran the Lloyd pass
#: 2x slower than 8 ways). 128 KB keeps sub-MB fixtures at a handful
#: of tasks while any at-scale input still widens to full parallelism.
_GEMM_MIN_TASK_BYTES = 128 * 1024

def _gemm_block_size(
    n_rows: int | None, parallelism: int,
    floor: int = 256, cap: int = 2048,
) -> int:
    """Adaptive GEMM block size for blocked all-pairs similarity.

    Pick the block size so the B(B+1)/2 block pairs cover the cluster
    (B ~ sqrt(2 * parallelism) blocks -> ~parallelism pair tasks)
    while never exceeding ``cap`` rows per block — the cap bounds one
    task's score matrix at cap^2 doubles (~32 MB at 2048), the
    bounded-memory property the fixed default had. ``floor`` stops
    tiny inputs from shattering into blocks whose per-task Python/
    Arrow overhead exceeds their GEMM. Blocking is result-invariant
    (every pair's dot product is computed over the full vectors
    whichever block pair it lands in), so this moves only WHERE pairs
    are computed, never what — pinned by the blocking-invariance
    pytest."""
    if not n_rows or n_rows <= 0:
        return cap
    b_target = max(int(math.ceil(math.sqrt(2.0 * parallelism))), 1)
    return min(cap, max(floor, -(-n_rows // b_target)))


def cosine_pairs_above(
    df: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_id: int | None = None,
    block_size: int | None = None,
    max_rows: int | None = 1_000_000,
) -> DataFrame:
    """Embedding near-duplicate pairs: cosine >= threshold, id_a < id_b.

    All-pairs similarity as BLOCKED MATRIX MULTIPLY: vectors are
    L2-normalized (linear pass, JVM-side), packed into id-range blocks
    of ``block_size``, and every block pair (bi <= bj) becomes one task
    that computes an (m x m) GEMM in numpy via Arrow-batched
    ``mapInPandas``. A per-pair expression evaluation (HOF dot inside a
    theta join) measures ~50x slower at 2k vectors and degrades
    linearly worse with pair count; dense BLAS per task is the form
    that survives scale. Parallelism = B(B+1)/2 block pairs, each task
    touches 2·block_size rows — no row-level cross product ever
    materializes in the shuffle.

    ``block_size=None`` (default) sizes blocks ADAPTIVELY from the
    guard's row probe and the cluster parallelism (_gemm_block_size):
    the r14 fixed 2048 default packed a 2k-vector corpus into ONE
    block pair — one task's GEMM with the rest of the cluster idle.
    The pair rows are also repartitioned with an EXPLICIT count:
    block-pair rows are bytes-light but CPU-quadratic in block size,
    exactly the shape AQE's byte-based coalescing mis-sizes (it
    folded all pairs into one partition), and an explicit-count
    round-robin exchange is the documented way to opt a shuffle out
    of coalescing.
    """
    base = df
    if max_id is not None:
        base = base.filter(F.col(id_col) < max_id)
    from .guards import refuse_quadratic

    n_rows = refuse_quadratic(
        base, max_rows, "cosine_pairs_above",
        "lsh_topk buckets / minhash-style banding",
    )
    par = max(df.sparkSession.sparkContext.defaultParallelism, 1)
    if block_size is None:
        block_size = _gemm_block_size(n_rows, par)
    # normalize once (linear, JVM codegen): pair stage then needs only
    # the dot product, and the kernel skips per-pair norms entirely
    normed = base.select(
        F.col(id_col).cast("long").alias("pid"),
        _normalized(vec_col).alias("v"),
    )
    # id-range blocks: blk is monotonic in pid, so blk_a < blk_b
    # implies every id in a < every id in b — the i<j constraint only
    # needs in-kernel handling on the diagonal blocks
    blocks = (
        normed.withColumn(
            "blk", F.floor(F.col("pid") / F.lit(block_size)).cast("long")
        )
        .groupBy("blk")
        .agg(F.sort_array(F.collect_list(F.struct("pid", "v"))).alias("items"))
        .select(
            "blk",
            F.transform("items", lambda s: s["pid"]).alias("ids"),
            F.transform("items", lambda s: s["v"]).alias("vecs"),
        )
    )
    a = blocks.select(
        F.col("blk").alias("blk_a"),
        F.col("ids").alias("ids_a"),
        F.col("vecs").alias("vecs_a"),
    )
    b = blocks.select(
        F.col("blk").alias("blk_b"),
        F.col("ids").alias("ids_b"),
        F.col("vecs").alias("vecs_b"),
    )
    # Explicit-count ROUND-ROBIN repartition of the pair rows: each row
    # is one GEMM task whose CPU is block_size^2-proportional while its
    # bytes are block_size-proportional, so AQE's byte-based coalescing
    # (which CAN re-size a keyless/by-column repartition) would fold
    # the whole pair set into one or two partitions and serialize the
    # GEMMs. An explicit numPartitions opts the exchange out of AQE
    # re-sizing; round-robin spreads exactly evenly (hashing ~B^2/2
    # distinct keys into ~that many partitions would leave collision
    # tails). Partition count: one per pair up to 2x parallelism,
    # beyond which multiple GEMMs per task amortize scheduling.
    pair_rows = a.join(b, F.col("blk_a") <= F.col("blk_b"))
    if n_rows is not None:
        n_blocks = max(-(-n_rows // block_size), 1)
        n_parts = max(1, min(n_blocks * (n_blocks + 1) // 2, par * 2))
    else:
        n_parts = par * 2
    tasks = pair_rows.repartition(n_parts)

    # kernel filters at threshold - eps on the raw value; the exact
    # (rounded) threshold is re-applied in Spark so boundary semantics
    # match the SQL oracle bit-for-bit
    eps = 1e-7

    def kernel(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            for row in pdf.itertuples(index=False):
                ids_a = np.asarray(row.ids_a, dtype=np.int64)
                ids_b = np.asarray(row.ids_b, dtype=np.int64)
                A = np.array([np.asarray(v) for v in row.vecs_a])
                B = np.array([np.asarray(v) for v in row.vecs_b])
                S = A @ B.T
                if row.blk_a == row.blk_b:
                    # diagonal block: keep strict upper triangle (ids
                    # sorted, so index i<j <=> id_i < id_j)
                    iu, ju = np.triu_indices(len(ids_a), k=1)
                    keep = S[iu, ju] >= threshold - eps
                    iu, ju = iu[keep], ju[keep]
                else:
                    iu, ju = np.nonzero(S >= threshold - eps)
                yield pd.DataFrame(
                    {
                        "id_a": ids_a[iu],
                        "id_b": ids_b[ju],
                        "raw_cos": S[iu, ju],
                    }
                )

    out = tasks.mapInPandas(
        kernel, "id_a long, id_b long, raw_cos double"
    )
    return out.select(
        "id_a", "id_b", F.round("raw_cos", 6).alias("cos_sim")
    ).filter(F.col("cos_sim") >= threshold)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    allowed_ids: DataFrame | None = None,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: corpus vectors are
    assigned to their nearest centroid (one inverted list per
    centroid); each query probes its ``nprobe`` nearest centroids and
    scores exactly against only those lists.

    Centroids here are the corpus vectors with the ``n_centroids``
    smallest ids — deterministic and engine-independent, so the whole
    operator is SQL-expressible and oracle-checkable. A k-means
    refinement would drop in unchanged: only the centroid matrix
    changes, not the assignment/probe/score dataflow.

    Scale shape: the centroid matrix is tiny and broadcast inside a
    vectorized pandas_udf (one numpy GEMM per Arrow batch — never a
    per-row expression tree); candidates come from an equi-join on
    centroid id, so list sizes govern cost and no cross product ever
    forms. Expected scored fraction ~ nprobe / n_centroids of the
    corpus per query.

    Ordering contract (matches the SQL oracle): assignment is
    argmax(round(cos, 6)) with ties to the smallest centroid id;
    probe order and the final rank use the same (rounded cos DESC,
    id ASC) tie-break.

    ``allowed_ids`` (one column of corpus ids) turns this into
    FILTERED vector search with index reuse — the hybrid-retrieval
    shape where a metadata predicate restricts candidates but the
    IVF assignment stays the one index built over the FULL corpus.
    The filter applies as a semi-join AFTER the probe join (the
    public post-filter design, e.g. FAISS IDSelector / Milvus
    filtered search): probed lists shrink to their allowed members
    before any exact scoring, so a selective predicate makes the
    query CHEAPER, while recall under very selective filters needs a
    higher nprobe (the documented post-filter trade — probed cells
    may hold too few allowed members to fill k).
    """
    cent = sorted(
        (r[0], r[1])
        for r in corpus.filter(F.col(id_col) < n_centroids)
        .select(F.col(id_col).cast("long"), F.col(vec_col))
        .collect()
    )
    cent_ids = np.array([c[0] for c in cent], dtype=np.int64)
    C = np.array([np.asarray(c[1], dtype=np.float64) for c in cent])
    C = C / np.linalg.norm(C, axis=1, keepdims=True)

    def _cos_matrix(v: pd.Series) -> np.ndarray:
        V = np.array([np.asarray(x, dtype=np.float64) for x in v])
        return np.round(V @ C.T, 6)  # rows already unit-normalized

    @pandas_udf("long")
    def assign_centroid(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype="int64")
        S = _cos_matrix(v)
        # argmax takes the FIRST max -> smallest centroid id on ties
        return pd.Series(cent_ids[np.argmax(S, axis=1)])

    @pandas_udf("array<long>")
    def probe_centroids(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype=object)
        S = _cos_matrix(v)
        # stable sort on -cos keeps index (== centroid id) order on ties
        order = np.argsort(-S, axis=1, kind="stable")[:, :nprobe]
        return pd.Series(list(cent_ids[order]))

    # widen before the CPU-bound Python assign stage: a one-row-group
    # parquet corpus scans as ONE task, serializing the per-batch
    # GEMMs no matter how wide the cluster is (caught by the 10x
    # rehearsal: 2.2 s -> 16.4 s at 10x corpus with ~0 shuffle — the
    # assign stage was a single core; the round-robin shuffle costs
    # far less than the lost parallelism, same rationale as
    # dedup.widen)
    from .dedup import widen

    c = widen(corpus, min_bytes_per_task=_GEMM_MIN_TASK_BYTES).select(
        F.col(id_col).alias("neighbor_id"),
        _normalized(vec_col).alias("c_vec"),
    ).withColumn("cid", assign_centroid("c_vec"))
    q = queries.select(
        F.col(id_col).alias("query_id"),
        _normalized(vec_col).alias("q_vec"),
    ).withColumn("cid", F.explode(probe_centroids("q_vec")))

    cand = q.join(c, "cid").filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    if allowed_ids is not None:
        allow = allowed_ids.select(
            F.col(allowed_ids.columns[0]).cast("long").alias(
                "neighbor_id"
            )
        )
        cand = cand.join(allow, "neighbor_id", "semi")
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        cand.select(
            "query_id",
            "neighbor_id",
            F.round(_dot(F.col("q_vec"), F.col("c_vec")), 6).alias("cos_sim"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def scalar_quantize_stats(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    levels: int = 256,
) -> DataFrame:
    """Per-dimension SQ8-style scalar quantization audit: train
    (min, max) per dimension over the corpus, code every value as
    ``round((x-min)/(max-min) * (levels-1))``, and report per-dim
    range, distinct-code count, and mean absolute reconstruction
    error (x1e6, rounded).

    This is the train+audit half of int8 embedding compression — at
    100 TB the 4x storage/IO cut (float32 -> int8) is usually the
    difference between an in-cluster ANN index and one that doesn't
    fit. The codes themselves are a trivial projection of the same
    expressions; the audit output is what an operator owner reviews
    before flipping a corpus to quantized storage.

    Shape: explode to (dim, x) — one narrow pass; per-dim ranges are
    64 rows broadcast back; one groupBy(dim) for the audit. Nothing
    is quadratic and nothing leaves the JVM.
    """
    dims = df.select(
        F.posexplode(
            F.transform(vec_col, lambda x: x.cast("double"))
        ).alias("dim", "x")
    )
    rng = dims.groupBy("dim").agg(
        F.min("x").alias("vmin"), F.max("x").alias("vmax")
    )
    span = F.col("vmax") - F.col("vmin")
    code = F.round((F.col("x") - F.col("vmin")) / span * (levels - 1))
    recon = F.col("vmin") + code * span / (levels - 1)
    return (
        dims.join(F.broadcast(rng), "dim")
        .select(
            "dim",
            "vmin",
            "vmax",
            code.alias("code"),
            F.abs(F.col("x") - recon).alias("err"),
        )
        .groupBy("dim")
        .agg(
            F.round(F.min("vmin"), 6).alias("vmin"),
            F.round(F.max("vmax"), 6).alias("vmax"),
            F.countDistinct("code").alias("n_codes"),
            F.round(F.avg("err") * 1e6).cast("long").alias("mean_err_e6"),
        )
    )


def _hyperplanes(num_planes: int, dim: int) -> list[list[float]]:
    """Deterministic pseudo-random unit-ish hyperplanes. Components are
    derived from a splitmix64-style integer hash of (plane, dim) mapped
    to [-1, 1] — reproducible across runs/engines with no RNG state."""
    planes = []
    for p in range(num_planes):
        row = []
        for d in range(dim):
            x = (p * 0x9E3779B97F4A7C15 + d * 0xBF58476D1CE4E5B9) % (2**64)
            x = (x ^ (x >> 31)) * 0x94D049BB133111EB % (2**64)
            x = x ^ (x >> 29)
            row.append((x % 2_000_001) / 1_000_000.0 - 1.0)
        planes.append(row)
    return planes


def lsh_bucket_key(vec_col, planes: list[list[float]]):
    """Sign-bit bucket id (bigint) for one plane set."""
    key = F.lit(0).cast("long")
    for i, plane in enumerate(planes):
        d = _dot(vec_col, F.array(*[F.lit(x) for x in plane]))
        bit = F.when(d >= 0, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        key = key.bitwiseOR(F.shiftleft(bit, i))
    return key


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    num_planes: int = 4,
    num_tables: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Approximate top-k: candidates are corpus vectors sharing an LSH
    bucket with the query in ANY of ``num_tables`` plane sets, then
    exact cosine + rank on candidates only.

    Tuning: P(candidate) = 1 - (1 - p^planes)^tables with
    p = 1 - angle/pi. Weakly similar corpora (neighbor cosine ~0.4 ->
    p ~ 0.63) need FEW planes per table: the 4x8 default gives ~0.7
    capture there; raise num_planes for high-similarity workloads to
    cut candidate counts."""
    # all plane sets evaluated in ONE projection per side: an array of
    # per-table bucket keys, posexploded to (tbl, bucket). One scan of
    # each input and one equi-join on (tbl, bucket) replace num_tables
    # separate join+union branches — at scale that is 1 shuffle, not 8.
    # The keys themselves come from a single numpy GEMM (vectorized
    # pandas_udf): sign bits of V @ P.T packed per table. The pure-
    # expression form (num_tables*num_planes HOF dots, each against a
    # dim-literal array) is codegen-hostile — one matrix multiply per
    # Arrow batch replaces ~32 interpreted array folds per row.
    P = np.array(_hyperplanes(num_planes * num_tables, dim))

    @pandas_udf("array<long>")
    def table_keys(v: pd.Series) -> pd.Series:
        V = np.array([np.asarray(x, dtype=np.float64) for x in v])
        if len(V) == 0:
            return pd.Series([], dtype=object)
        bits = (V @ P.T >= 0).astype(np.int64)  # n x (tables*planes)
        keys = np.zeros((len(v), num_tables), dtype=np.int64)
        for t in range(num_tables):
            for b in range(num_planes):
                keys[:, t] |= bits[:, t * num_planes + b] << b
        return pd.Series(list(keys))

    # normalize once (linear): candidate scoring is then a single dot
    q = queries.select(
        F.col(id_col).alias("query_id"),
        _normalized(vec_col).alias("q_vec"),
    )
    # widen: the table_keys GEMM is the CPU-bound stage (same
    # single-row-group hazard the ivf_topk rehearsal caught; keys are
    # per-row pure, so layout cannot change any bucket)
    from .dedup import widen

    c = widen(corpus, min_bytes_per_task=_GEMM_MIN_TASK_BYTES).select(
        F.col(id_col).alias("neighbor_id"),
        _normalized(vec_col).alias("c_vec"),
    )
    # Candidate discovery moves KEYS ONLY (guide §2.3 / §8: decide
    # with small rows, attach payloads once): the (tbl, bucket)
    # collision join and the (query_id, neighbor_id) dedup see ~24-byte
    # id rows — the pre-r14 form carried q_vec AND c_vec through the
    # dedup exchange (~1 KB per candidate, the query's dominant
    # shuffle) and broadcast the corpus-side explode WITH vectors
    # (num_tables x corpus vector bytes in every executor). Vectors
    # re-attach ONCE per side after dedup via equi-joins — at scale
    # that shuffles the corpus once instead of num_tables times; the
    # cosine expression and rank tie-break are unchanged expressions
    # over unchanged inputs, so scores and ranks are bit-identical.
    qb = q.select(
        "query_id",
        F.posexplode(table_keys("q_vec")).alias("tbl", "bucket"),
    )
    cb = c.select(
        "neighbor_id",
        F.posexplode(table_keys("c_vec")).alias("tbl", "bucket"),
    )
    cand = (
        qb.join(cb, ["tbl", "bucket"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    scored = cand.join(q, "query_id").join(c, "neighbor_id")
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        scored.select(
            "query_id",
            "neighbor_id",
            F.round(_dot(F.col("q_vec"), F.col("c_vec")), 6).alias("cos_sim"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def kmeans_fit(
    corpus: DataFrame,
    k: int = 8,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    init: str = "smallest_id",
    init_sample: int = 1024,
) -> DataFrame:
    """Deterministic spherical k-means (Lloyd) for IVF centroid
    training: init = the ``k`` smallest-id vectors (engine-independent,
    like ``ivf_topk``), assignment = argmax of 6dp-rounded cosine with
    ties to the smallest centroid index, update = per-dimension mean.

    ``init='maxmin'`` (r9) swaps the seed for deterministic
    farthest-point selection over the ``init_sample`` smallest-id
    vectors (greedy: start at the smallest id, then repeatedly take
    the sample vector with the LOWEST max-cosine to the chosen set,
    6dp-rounded, ties to the smallest id — the derandomized
    k-means++ a coarse quantizer needs). Lloyd cannot escape a
    degenerate seed: when ingest order clusters the smallest ids
    (the common case), all k smallest-id seeds sit in one cluster
    and the refined centroids stay there; maxmin spreads the seeds
    across the data's actual modes first. Still a pure function of
    the corpus — no RNG anywhere — so golden-fixture oracles hold.
    Driver cost: init_sample x dim floats + k greedy passes over the
    sample (numpy, ms); the distributed Lloyd loop is unchanged.

    Determinism across partitionings is load-bearing (the golden-
    fixture oracle snapshots the output): float sums reorder under
    different partition counts, so each component is quantized to a
    12-dp SCALED INTEGER inside the kernel and summed with exact
    integer addition (int64 within an Arrow batch — |v| <= 1 so
    10k-row batches stay 8 orders of magnitude under overflow; Python
    bigints across batches), then the per-partition partials combine
    under an exact decimal(38,0) aggregate — integer addition is
    associative, giving bit-identical means for ANY partitioning.

    Each iteration is ONE job: a fused mapInPandas kernel does the
    vectorized cosine assignment AND the per-(cid, dim) accumulation
    per partition, emitting at most partitions x k x dims tiny partial
    rows — the corpus-sized n x dims (cid, dim, val) explosion the
    previous posexplode formulation materialized before its map-side
    combine never exists. Per-iteration driver traffic is the k x dim
    centroid matrix (KBs).

    Output: (centroid_id, dim, c_val, n_assigned) — one row per
    centroid component (scalar cells hash-compare cleanly; no array
    encodings in the correctness path).
    """
    from .dedup import widen

    # widen: the Lloyd accumulate kernel is CPU-bound per batch — a
    # one-row-group corpus would run every pass on one core (the
    # ivf_topk rehearsal catch); DECIMAL-summed updates are
    # partition-invariant, so the layout change cannot move a centroid
    base = widen(corpus, min_bytes_per_task=_GEMM_MIN_TASK_BYTES).select(
        F.col(id_col).cast("long").alias("vid"),
        _normalized(vec_col).alias("v"),
    ).persist()

    try:
        return _kmeans_fit_loop(
            base, k, iters, init, init_sample, corpus.sparkSession
        )
    finally:
        # r14: the normalized-corpus cache previously outlived the
        # call — every kmeans-quantized query in a long session (the
        # bench runs 200+ queries on ONE session) left a corpus-sized
        # block in storage memory, squeezing execution memory for
        # every later query (guide §5: unpersist when done).
        base.unpersist()


def _kmeans_fit_loop(base, k, iters, init, init_sample, spark):
    from decimal import Decimal

    from pyspark.sql import Row

    if init == "maxmin":
        samp = sorted(
            (r["vid"], np.asarray(r["v"], dtype=np.float64))
            for r in base.orderBy("vid").limit(max(init_sample, k)).collect()
        )
        S = np.array([v for _, v in samp])
        S = S / np.linalg.norm(S, axis=1, keepdims=True)
        chosen = [0]  # smallest id first (samp is id-sorted)
        # max cosine of each sample vector to the chosen set so far
        best = np.round(S @ S[0], 6)
        for _ in range(1, min(k, len(S))):
            nxt = int(np.argmin(best))  # first min -> smallest id tie
            chosen.append(nxt)
            best = np.maximum(best, np.round(S @ S[nxt], 6))
        C = S[chosen]
        while len(C) < k:  # corpus smaller than k: pad by repetition
            # loop until FULL (a single vstack still under-fills when
            # the corpus has fewer than k/2 vectors, leaving all-zero
            # centroid rows downstream)
            C = np.vstack([C, C[: k - len(C)]])
        C = np.round(C, 6)
    elif init == "smallest_id":
        seed = sorted(
            (r["vid"], np.asarray(r["v"], dtype=np.float64))
            for r in base.orderBy("vid").limit(k).collect()
        )
        C = np.array([v for _, v in seed])
        C = np.round(C / np.linalg.norm(C, axis=1, keepdims=True), 6)
    else:
        raise ValueError(
            f"unknown init {init!r}; expected 'smallest_id' or 'maxmin'"
        )
    counts = {i: 0 for i in range(k)}
    SCALE = 10**12

    for _ in range(iters):
        Cb = C  # rebind for closure

        def assign_accumulate(batches):
            # per-partition: assign each vector to its argmax-cosine
            # centroid (6dp rounding, ties to smallest index), then
            # accumulate exact scaled-integer component sums per cid
            acc: dict[int, list[int]] = {}
            cnt: dict[int, int] = {}
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                V = np.array(
                    [np.asarray(x, dtype=np.float64) for x in pdf["v"]]
                )
                S = np.round(V @ Cb.T, 6)
                cids = np.argmax(S, axis=1)
                scaled = np.rint(V * SCALE).astype(np.int64)
                for cid in np.unique(cids):
                    mask = cids == cid
                    part = scaled[mask].sum(axis=0)
                    key = int(cid)
                    if key in acc:
                        acc[key] = [
                            a + int(b) for a, b in zip(acc[key], part)
                        ]
                        cnt[key] += int(mask.sum())
                    else:
                        acc[key] = [int(b) for b in part]
                        cnt[key] = int(mask.sum())
            if acc:
                yield pd.DataFrame(
                    [
                        (cid, d, Decimal(s), cnt[cid])
                        for cid, vec in acc.items()
                        for d, s in enumerate(vec)
                    ],
                    columns=["cid", "dim", "s", "n"],
                )

        sums = (
            base.mapInPandas(
                assign_accumulate, "cid int, dim int, s decimal(38,0), n long"
            )
            .groupBy("cid", "dim")
            .agg(F.sum("s").alias("s"), F.sum("n").alias("n"))
            .collect()
        )
        dims = C.shape[1]
        newC = C.copy()
        counts = {i: 0 for i in range(k)}
        acc2: dict[int, list] = {}
        for r in sums:
            acc2.setdefault(r["cid"], [None] * dims)[r["dim"]] = (
                float(r["s"]) / SCALE
            )
            counts[r["cid"]] = r["n"]
        for cid, comps in acc2.items():
            m = np.array(comps, dtype=np.float64) / counts[cid]
            norm = np.linalg.norm(m)
            if norm > 0:
                newC[cid] = np.round(m / norm, 6)
        C = newC

    rows = [
        Row(
            centroid_id=cid,
            dim=d,
            c_val=float(C[cid, d]),
            n_assigned=int(counts.get(cid, 0)),
        )
        for cid in range(k)
        for d in range(C.shape[1])
    ]
    return spark.createDataFrame(
        rows, "centroid_id int, dim int, c_val double, n_assigned long"
    )


def label_centroids(
    emb: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-label mean embedding (class prototypes), long-form:
    (label, dim, sum_e6, n_vecs, centroid) — the building block for
    prototype classification, per-class drift monitoring, and
    class-conditional near-dup triage over an embedding corpus.

    Exactness contract: each float component is snapped to integer
    micro-units (round(x * 1e6) — the float->double widening is
    IEEE-defined, so both engines snap identically), summed as BIGINT
    (order-independent, unlike float sums, so the result is invariant
    under partitioning/AQE), and the centroid derives from the exact
    (sum_e6, n) pair.

    Plan shape: posexplode (narrow, rows = n x dims) -> one hash agg
    keyed (label, dim) with map-side partial combine. dims is a
    constant, so keys = labels x dims — tiny; the shuffle carries only
    partial (sum, count) pairs. Linear at 100 TB.
    """
    ex = emb.select(
        F.col(label_col).alias("label"),
        F.posexplode(vec_col).alias("dim", "x"),
    )
    return (
        ex.groupBy("label", "dim")
        .agg(
            F.sum(F.round(F.col("x") * 1e6).cast("long")).alias("sum_e6"),
            F.count(F.lit(1)).alias("n_vecs"),
        )
        .withColumn(
            "centroid",
            F.round(F.col("sum_e6") / F.col("n_vecs") / 1e6, 6),
        )
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) ANN
# ---------------------------------------------------------------------------


def _safe_norms(V: np.ndarray) -> np.ndarray:
    """Row L2 norms with zeros mapped to 1, so an all-zero vector
    normalizes to itself instead of injecting NaN into the codebooks
    (one NaN centroid would poison every subsequent argmin)."""
    n = np.linalg.norm(V, axis=1, keepdims=True)
    return np.where(n == 0.0, 1.0, n)


def pq_train_codebooks(
    corpus: DataFrame,
    m: int = 4,
    codes: int = 16,
    iters: int = 8,
    sample: int = 256,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """Train PQ codebooks (Jegou et al. 2011, public algorithm): the
    vector space splits into ``m`` equal subspaces; each gets its own
    ``codes``-centroid k-means codebook, so a vector compresses to m
    small ints (4 bytes here vs 256 for float32[64]).

    Training runs DRIVER-SIDE on a deterministic bounded sample (the
    ``sample`` smallest ids) — standard PQ practice (codebooks train
    on ~1e5 vectors even for billion-vector indexes; FAISS does the
    same), so driver traffic is bounded by ``sample``, never corpus
    size. Vectors are L2-normalized first, making PQ's L2 metric
    cosine-equivalent (||a-b||^2 = 2 - 2cos for unit vectors).
    Deterministic: sorted-id sample, first-k init, argmin ties to the
    lowest centroid index, fixed iteration count.

    Returns (m, codes, dim/m) float64 codebooks.
    """
    rows = (
        corpus.select(
            F.col(id_col).alias("vid"), F.col(vec_col).alias("v")
        )
        .orderBy("vid")
        .limit(sample)
        .collect()
    )
    V = np.array([np.asarray(r["v"], dtype=np.float64) for r in rows])
    if len(V) < codes:
        raise ValueError(
            f"PQ training needs at least codes={codes} sample vectors, "
            f"got {len(V)} — lower codes or raise sample"
        )
    V = V / _safe_norms(V)
    d = V.shape[1]
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    sub = d // m
    books = np.zeros((m, codes, sub))
    for s in range(m):
        X = V[:, s * sub : (s + 1) * sub]
        C = X[:codes].copy()
        for _ in range(iters):
            D = ((X[:, None, :] - C[None, :, :]) ** 2).sum(-1)
            assign = np.argmin(D, axis=1)  # ties -> lowest index
            for c in range(codes):
                mask = assign == c
                if mask.any():
                    C[c] = X[mask].mean(axis=0)
        books[s] = C
    return books


def pq_encode(
    corpus: DataFrame,
    books: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode every vector to its m-subspace code word: one narrow
    Arrow-kernel pass (vectorized argmin per subspace), no shuffle.
    Output: (vec_id, code array<int> of length m). At 100 TB the code
    table is the persisted index — 64x smaller than the raw vectors,
    and the only thing the ADC scan reads."""
    m, codes, sub = books.shape

    def encode(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.array(
                [np.asarray(x, dtype=np.float64) for x in pdf["v"]]
            )
            V = V / _safe_norms(V)
            out = np.zeros((len(V), m), dtype=np.int32)
            for s in range(m):
                X = V[:, s * sub : (s + 1) * sub]
                D = ((X[:, None, :] - books[s][None, :, :]) ** 2).sum(-1)
                out[:, s] = np.argmin(D, axis=1)
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"], "code": list(out)}
            )

    # widen before the CPU-bound encode (single-row-group hazard —
    # see ivf_topk's rehearsal-caught serial GEMM; encode is per-row
    # pure, so the round-robin shuffle cannot change any output)
    from .dedup import widen

    src = widen(corpus, min_bytes_per_task=_GEMM_MIN_TASK_BYTES).select(
        F.col(id_col).cast("long").alias("vec_id"),
        F.col(vec_col).alias("v"),
    )
    return src.mapInPandas(encode, "vec_id long, code array<int>")


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m: int = 4,
    codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate cosine top-k via PQ + asymmetric distance (ADC).

    Each query precomputes an (m x codes) table of exact subspace
    distances to the codebooks; a corpus vector's approximate distance
    is then m table lookups on its code word — the scan never touches
    raw vectors, so at 100 TB it reads the 4-byte-per-vector code
    table instead of the embedding column. approx_cos = 1 - d^2/2
    (unit-norm identity). Queries stay raw (asymmetric = no query
    quantization error). Top-k per query: rounded-6dp score desc, id
    asc — partition-invariant. Completes the quantization ladder:
    SQ8 (scalar_quantize_stats) compresses 4x with near-exact scores,
    PQ 64x with coarse scores; exact twin ann_cosine_topk, recall
    pinned in tests.
    """
    books = pq_train_codebooks(
        corpus, m=m, codes=codes, id_col=id_col, vec_col=vec_col
    )
    code_df = pq_encode(corpus, books, id_col=id_col, vec_col=vec_col)

    qrows = (
        queries.select(
            F.col(id_col).cast("long").alias("qid"),
            F.col(vec_col).alias("v"),
        )
        .orderBy("qid")
        .collect()
    )
    sub = books.shape[2]
    qids = np.array([r["qid"] for r in qrows])
    Q = np.array([np.asarray(r["v"], dtype=np.float64) for r in qrows])
    Q = Q / _safe_norms(Q)
    # (n_q, m, codes) ADC tables
    tables = np.stack(
        [
            ((Q[:, s * sub : (s + 1) * sub][:, None, :]
              - books[s][None, :, :]) ** 2).sum(-1)
            for s in range(m)
        ],
        axis=1,
    )

    def scan(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            C = np.array(list(pdf["code"]), dtype=np.int64)  # (n, m)
            ids = pdf["vec_id"].values
            # d2[q, n] = sum_s tables[q, s, C[n, s]]
            d2 = np.zeros((len(qids), len(C)))
            for s in range(m):
                d2 += tables[:, s, :][:, C[:, s]]
            cos = np.round(1.0 - d2 / 2.0, 6)
            frames = []
            for qi, qid in enumerate(qids):
                keep = ids != qid
                frames.append(
                    pd.DataFrame(
                        {
                            "query_id": qid,
                            "neighbor_id": ids[keep],
                            "approx_cos": cos[qi][keep],
                        }
                    )
                )
            out = pd.concat(frames)
            # local top-k per query bounds rows leaving each partition
            out = out.sort_values(
                ["query_id", "approx_cos", "neighbor_id"],
                ascending=[True, False, True],
            ).groupby("query_id").head(k)
            yield out

    scored = code_df.mapInPandas(
        scan, "query_id long, neighbor_id long, approx_cos double"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("approx_cos"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def pq_refine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    overfetch: int = 4,
    m: int = 4,
    codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Two-stage retrieval (the public IVFADC+R / FAISS IndexRefine
    design): a coarse PQ-ADC scan over the 4-byte code table fetches
    ``k * overfetch`` candidates per query, then EXACT cosine
    re-scores only those candidates from the raw embedding column and
    keeps the true top-k. Output: (query_id, neighbor_id, cos_sim,
    rank) — the exact metric, recovered from a scan that never read
    the raw vectors.

    Scale shape: stage 1 is pq_topk's code-table scan (64x smaller
    than the embeddings, local top-(k*overfetch) bounds rows leaving
    each partition); stage 2 joins q x (k * overfetch) candidate IDs
    back to the corpus — an equi-join on the vector id that touches
    only candidate rows (parquet row-group stats prune on the
    sort-on-write id), with the query batch broadcast. Re-scoring
    cost is q * k * overfetch exact dots, independent of corpus size
    — the standard fix for PQ's quantization error without paying an
    exact scan.
    """
    cand = pq_topk(
        corpus,
        queries,
        k=k * overfetch,
        m=m,
        codes=codes,
        id_col=id_col,
        vec_col=vec_col,
    ).select("query_id", "neighbor_id")
    emb = corpus.select(
        F.col(id_col).cast("long").alias("neighbor_id"),
        F.col(vec_col).alias("n_vec"),
        _norm(F.col(vec_col)).alias("n_norm"),
    )
    qemb = queries.select(
        F.col(id_col).cast("long").alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        _norm(F.col(vec_col)).alias("q_norm"),
    )
    rescored = (
        cand.join(emb, "neighbor_id")
        .join(F.broadcast(qemb), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                _dot(F.col("q_vec"), F.col("n_vec"))
                / (F.col("q_norm") * F.col("n_norm")),
                6,
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        rescored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def _coarse_centroids(
    corpus, n_centroids, id_col, vec_col,
    quantizer: str = "smallest_id", kmeans_iters: int = 3,
):
    """Deterministic IVF coarse quantizer, two flavors:

    - ``quantizer='smallest_id'`` (default): the ``n_centroids``
      corpus vectors with the smallest ids ACTUALLY PRESENT,
      unit-normalized (same rule as ivf_topk — engine-independent, so
      results are oracle-checkable). orderBy+limit rather than
      ``id < n_centroids`` so a corpus with shifted or sparse ids (or
      one whose low ids were deleted before a rebuild) still yields a
      full quantizer instead of silently fewer cells.
    - ``quantizer='kmeans'`` (r9): Lloyd-refined centroids from
      ``kmeans_fit`` — smallest-id init then ``kmeans_iters``
      deterministic iterations (seedless: exact scaled-integer sums,
      argmax ties to the smallest index — see kmeans_fit), so the
      result is still a pure function of the corpus and reproducible
      across partitionings/engines (golden-fixture-oracle safe).
      On clustered corpora k-means balances the cells the arbitrary
      smallest-id pick can't, raising probed-cell recall at equal
      nprobe (pytest-pinned on the clustered fixture; measured in
      ann_quality_r9.json at e9bc22d). Cell labels are the centroid
      indices 0..k-1 (synthetic — k-means centroids are means, not corpus
      rows); the ivf/pq dataflow only ever equi-joins on the label.
    """
    if quantizer == "kmeans":
        fit = kmeans_fit(
            corpus, k=n_centroids, iters=kmeans_iters,
            id_col=id_col, vec_col=vec_col, init="maxmin",
        ).collect()
        if not fit:
            raise ValueError(
                "IVF coarse quantizer needs a non-empty corpus; got "
                f"zero rows (id_col={id_col!r}, vec_col={vec_col!r})"
            )
        dims = 1 + max(r["dim"] for r in fit)
        C = np.zeros((n_centroids, dims), dtype=np.float64)
        for r in fit:
            C[r["centroid_id"], r["dim"]] = r["c_val"]
        cent_ids = np.arange(n_centroids, dtype=np.int64)
        return cent_ids, C
    if quantizer != "smallest_id":
        raise ValueError(
            f"unknown quantizer {quantizer!r}; "
            "expected 'smallest_id' or 'kmeans'"
        )
    cent = sorted(
        (r[0], r[1])
        for r in corpus.select(
            F.col(id_col).cast("long").alias("__cid"), F.col(vec_col)
        )
        .orderBy("__cid")
        .limit(n_centroids)
        .collect()
    )
    if not cent:
        raise ValueError(
            "IVF coarse quantizer needs a non-empty corpus; got zero "
            f"rows (id_col={id_col!r}, vec_col={vec_col!r})"
        )
    cent_ids = np.array([c[0] for c in cent], dtype=np.int64)
    C = np.array([np.asarray(c[1], dtype=np.float64) for c in cent])
    C = C / np.linalg.norm(C, axis=1, keepdims=True)
    return cent_ids, C


def _assign_encode_df(corpus, books, cent_ids, C, id_col, vec_col):
    """Fused IVF assign + PQ encode: ONE mapInPandas pass over the
    vectors (per-batch GEMM for the cell argmax + per-subspace argmin
    for the code word; centroid matrix and codebooks closure-
    broadcast). Output (vec_id, cid, code array<int>) — the persisted
    form of an IVFADC index."""
    m, _codes, n_sub = books.shape

    def assign_encode(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.array(
                [np.asarray(x, dtype=np.float64) for x in pdf["v"]]
            )
            V = V / _safe_norms(V)
            S = np.round(V @ C.T, 6)
            cid = cent_ids[np.argmax(S, axis=1)]
            code = np.zeros((len(V), m), dtype=np.int32)
            for s in range(m):
                X = V[:, s * n_sub : (s + 1) * n_sub]
                D = ((X[:, None, :] - books[s][None, :, :]) ** 2).sum(-1)
                code[:, s] = np.argmin(D, axis=1)
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"], "cid": cid, "code": list(code)}
            )

    # widen: same single-task hazard/fix as pq_encode (per-row pure)
    from .dedup import widen

    return widen(corpus, min_bytes_per_task=_GEMM_MIN_TASK_BYTES).select(
        F.col(id_col).cast("long").alias("vec_id"),
        F.col(vec_col).alias("v"),
    ).mapInPandas(assign_encode, "vec_id long, cid long, code array<int>")


def _query_probe_tables(queries, books, cent_ids, C, nprobe, id_col, vec_col):
    """Driver-side query prep (bounded by the query batch, same
    contract as pq_topk): per-query ADC distance tables and the
    nprobe probed cell list. Returns (qids, tables, probes)."""
    m = books.shape[0]
    n_sub = books.shape[2]
    qrows = (
        queries.select(
            F.col(id_col).cast("long").alias("qid"),
            F.col(vec_col).alias("v"),
        )
        .orderBy("qid")
        .collect()
    )
    qids = np.array([r["qid"] for r in qrows])
    Q = np.array([np.asarray(r["v"], dtype=np.float64) for r in qrows])
    Q = Q / _safe_norms(Q)
    tables = np.stack(
        [
            ((Q[:, s * n_sub : (s + 1) * n_sub][:, None, :]
              - books[s][None, :, :]) ** 2).sum(-1)
            for s in range(m)
        ],
        axis=1,
    )  # (n_q, m, codes)
    qS = np.round(Q @ C.T, 6)
    probe_order = np.argsort(-qS, axis=1, kind="stable")[:, :nprobe]
    probes = [
        (int(qid), [int(c) for c in cent_ids[probe_order[i]]])
        for i, qid in enumerate(qids)
    ]
    return qids, tables, probes


def _adc_candidates(index, probes, qids, tables, m, nq, spark,
                    exclude_self=True, per_cell=False):
    """Probed-list ADC scan: (query, cell) pairs broadcast-equi-join
    the (vec_id, cid, code) index — candidate volume ~ probed list
    sizes — then per-CANDIDATE table lookups score and a local
    top-``nq`` per query bounds rows leaving each partition. Returns
    the global top-``nq`` candidate ids per query.

    ``per_cell=True`` is the ADAPTIVE-OVERFETCH shape (r10): keep the
    top-``nq`` per (query, PROBED CELL) instead of per query, so the
    exact-refine pool scales with nprobe (nq x nprobe candidates).
    This makes final recall provably MONOTONE NON-DECREASING in
    nprobe: probe lists are prefix-nested (argsort order), each
    cell's top-``nq`` is independent of the other cells, so the
    candidate set at nprobe+1 is a superset of nprobe's — and exact
    re-scoring of a superset can only add true top-k members. The
    fixed global budget, by contrast, lets impostors from newly
    probed cells CROWD OUT true neighbors under the approximate ADC
    order (measured recall DROPPING with nprobe,
    ann_quality_r9.json; monotone curve: ann_quality_r10.json; both
    at e9bc22d).

    ``exclude_self`` drops candidates whose vec_id EQUALS the query
    id — right for corpus-drawn queries (the family convention:
    "my neighbors, not me"), wrong for EXTERNAL queries whose ids
    merely coincide with corpus ids; those callers pass False."""
    probe_df = (
        spark.createDataFrame(probes, "query_id long, cids array<long>")
        .select("query_id", F.explode("cids").alias("cid"))
    )
    qidx = {int(qid): i for i, qid in enumerate(qids)}
    cand = index.join(F.broadcast(probe_df), "cid")
    if exclude_self:
        cand = cand.filter(F.col("query_id") != F.col("vec_id"))
    keys = ["query_id", "cid"] if per_cell else ["query_id"]

    def adc_score(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            Cc = np.array(list(pdf["code"]), dtype=np.int64)
            qi = pdf["query_id"].map(qidx).values
            d2 = np.zeros(len(Cc))
            for s in range(m):
                d2 += tables[qi, s, Cc[:, s]]
            out = pd.DataFrame(
                {
                    "query_id": pdf["query_id"].values,
                    "cid": pdf["cid"].values,
                    "neighbor_id": pdf["vec_id"].values,
                    "approx_cos": np.round(1.0 - d2 / 2.0, 6),
                }
            )
            yield out.sort_values(
                keys + ["approx_cos", "neighbor_id"],
                ascending=[True] * len(keys) + [False, True],
            ).groupby(keys).head(nq)

    scored = cand.select("query_id", "cid", "vec_id", "code").mapInPandas(
        adc_score,
        "query_id long, cid long, neighbor_id long, approx_cos double",
    )
    w = Window.partitionBy(*keys).orderBy(
        F.desc("approx_cos"), F.asc("neighbor_id")
    )
    out = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= nq)
        .select("query_id", "neighbor_id")
    )
    # per-cell mode can surface the same neighbor from one cell only
    # (a vector lives in exactly one cell), so no dedup is needed
    return out


def _exact_refine(cand_ids, corpus, queries, k, id_col, vec_col):
    """Exact-cosine re-score of candidate ids: equi-join back to the
    raw embedding column (touches only candidate rows), query batch
    broadcast; true top-k under the (6dp cos DESC, id ASC) order."""
    emb = corpus.select(
        F.col(id_col).cast("long").alias("neighbor_id"),
        F.col(vec_col).alias("n_vec"),
        _norm(F.col(vec_col)).alias("n_norm"),
    )
    qemb = queries.select(
        F.col(id_col).cast("long").alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        _norm(F.col(vec_col)).alias("q_norm"),
    )
    rescored = (
        cand_ids.join(emb, "neighbor_id")
        .join(F.broadcast(qemb), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                _dot(F.col("q_vec"), F.col("n_vec"))
                / (F.col("q_norm") * F.col("n_norm")),
                6,
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        rescored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    overfetch: int = 4,
    n_centroids: int = 16,
    nprobe: int = 4,
    m: int = 4,
    codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quantizer: str = "smallest_id",
    kmeans_iters: int = 3,
    adaptive_overfetch: bool = True,
) -> DataFrame:
    """IVFADC (Jegou et al. 2011; FAISS "IVF<n>,PQ<m>" + refine,
    public designs): the full 100 TB ANN pipeline — an IVF coarse
    quantizer restricts candidate generation to the ``nprobe`` probed
    inverted lists, a PQ-ADC scan scores ONLY those lists from the
    4-byte code table, and exact cosine re-scores the k*overfetch
    survivors from the raw embedding column. Unlike pq_refine_topk
    (whose stage 1 ADC-scans EVERY code), no stage here touches the
    full corpus: candidate volume ~ nprobe/n_centroids of the code
    table per query, re-scoring is q*k*overfetch dots.

    Raw-vector PQ encoding (FAISS by_residual=False): codes quantize
    the normalized vectors themselves, not centroid residuals, so the
    one trained codebook serves every inverted list and the encode
    pass stays a single fused kernel. Residual encoding is the
    accuracy upgrade at equal code size; it changes only the encode /
    table-build kernels, not the dataflow.

    ``adaptive_overfetch`` (r10; DEFAULT since r11) scales the
    exact-refine pool with nprobe: the ADC stage keeps k*overfetch
    candidates per (query, PROBED CELL) instead of per query, making
    recall provably monotone non-decreasing in nprobe (nested probe
    lists + per-cell independence — see _adc_candidates; the fixed
    budget's recall measurably FELL with nprobe via impostor crowding,
    ann_quality_r9.json at e9bc22d). The per-cell pool is a SUPERSET
    of the fixed-budget pool at equal settings (any cell holds at most
    k*overfetch of the global top-k*overfetch), so the flip never
    loses a candidate. ``False`` keeps the r8/r9 fixed-budget shape
    reachable for the quality-comparison tooling; refine cost under
    adaptive mode is q*k*overfetch*nprobe dots — still
    candidate-bounded, never corpus-bounded. Golden fixtures
    regenerated at the flip (r11, make_fixtures double-run gate).

    Scale shape: see the composed helpers — _assign_encode_df (one
    fused mapInPandas pass), _adc_candidates (broadcast equi-join on
    cell id, per-candidate lookups, local top per query), and
    _exact_refine (candidate-id equi-join + broadcast query batch).
    Deterministic throughout (sorted-id centroids and training
    sample, argmin/argmax first-index tie-breaks, 6dp/id rank
    tie-break) -> golden-fixture oracle. The persisted-index form of
    the same pipeline (build once, CDC-refresh, query with manifest
    cell pruning) is operators/ann_index.py.
    """
    books = pq_train_codebooks(
        corpus, m=m, codes=codes, id_col=id_col, vec_col=vec_col
    )
    cent_ids, C = _coarse_centroids(
        corpus, n_centroids, id_col, vec_col,
        quantizer=quantizer, kmeans_iters=kmeans_iters,
    )
    index = _assign_encode_df(corpus, books, cent_ids, C, id_col, vec_col)
    qids, tables, probes = _query_probe_tables(
        queries, books, cent_ids, C, nprobe, id_col, vec_col
    )
    cand_ids = _adc_candidates(
        index, probes, qids, tables, m, k * overfetch,
        corpus.sparkSession, per_cell=adaptive_overfetch,
    )
    return _exact_refine(cand_ids, corpus, queries, k, id_col, vec_col)


def pq_train_codebooks_residual(
    corpus: DataFrame,
    cent_ids: np.ndarray,
    C: np.ndarray,
    m: int = 4,
    codes: int = 16,
    iters: int = 8,
    sample: int = 256,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """Residual PQ codebooks (IVFADC's by_residual=True, the FAISS
    default): train on r = v_norm - centroid(cell(v)) instead of the
    raw vectors. WHEN the corpus is clustered and the coarse cells
    align with the clusters, residuals concentrate near the origin —
    the m*codes codebook budget covers a much tighter distribution
    than the whole sphere, so quantization error (and candidate-
    ranking error) drops at the SAME code size; pytest pins residual
    candidate recall >= raw encoding on such a corpus. On data that
    is near-uniform on the sphere (the synthetic testdata
    embeddings: best-centroid cos ~ 0.22, mean residual norm ~ 1.25
    > the unit raw norm) residuals are a WIDER distribution than the
    vectors themselves and raw encoding wins — which is why
    ivfpq_topk defaults to by_residual=False. Same determinism
    contract as pq_train_codebooks: sorted-id bounded sample,
    first-k init, argmin ties to the lowest index, fixed
    iterations."""
    rows = (
        corpus.select(
            F.col(id_col).alias("vid"), F.col(vec_col).alias("v")
        )
        .orderBy("vid")
        .limit(sample)
        .collect()
    )
    V = np.array([np.asarray(r["v"], dtype=np.float64) for r in rows])
    if len(V) < codes:
        raise ValueError(
            f"PQ training needs at least codes={codes} sample vectors, "
            f"got {len(V)} — lower codes or raise sample"
        )
    V = V / _safe_norms(V)
    S = np.round(V @ C.T, 6)
    R = V - C[np.argmax(S, axis=1)]
    d = R.shape[1]
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    sub = d // m
    books = np.zeros((m, codes, sub))
    for s in range(m):
        X = R[:, s * sub : (s + 1) * sub]
        Cb = X[:codes].copy()
        for _ in range(iters):
            D = ((X[:, None, :] - Cb[None, :, :]) ** 2).sum(-1)
            assign = np.argmin(D, axis=1)
            for c in range(codes):
                mask = assign == c
                if mask.any():
                    Cb[c] = X[mask].mean(axis=0)
        books[s] = Cb
    return books


def _assign_encode_residual_df(corpus, books, cent_ids, C, id_col, vec_col):
    """Fused IVF assign + RESIDUAL PQ encode (one mapInPandas pass):
    the code word quantizes v_norm - centroid(cell) against the
    residual codebooks. Same output shape as _assign_encode_df."""
    m, _codes, n_sub = books.shape
    cid_to_row = {int(c): i for i, c in enumerate(cent_ids)}

    def assign_encode(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.array(
                [np.asarray(x, dtype=np.float64) for x in pdf["v"]]
            )
            V = V / _safe_norms(V)
            S = np.round(V @ C.T, 6)
            rows = np.argmax(S, axis=1)
            cid = cent_ids[rows]
            R = V - C[rows]
            code = np.zeros((len(V), m), dtype=np.int32)
            for s in range(m):
                X = R[:, s * n_sub : (s + 1) * n_sub]
                D = ((X[:, None, :] - books[s][None, :, :]) ** 2).sum(-1)
                code[:, s] = np.argmin(D, axis=1)
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"], "cid": cid, "code": list(code)}
            )

    # widen: same single-task hazard/fix as pq_encode (per-row pure)
    from .dedup import widen

    return widen(corpus, min_bytes_per_task=_GEMM_MIN_TASK_BYTES).select(
        F.col(id_col).cast("long").alias("vec_id"),
        F.col(vec_col).alias("v"),
    ).mapInPandas(assign_encode, "vec_id long, cid long, code array<int>")


def _adc_candidates_residual(
    index, probes, qids, Q, books, cent_ids, C, nq, spark,
    exclude_self=True, per_cell=False,
):
    """Residual-mode ADC scan: the distance table depends on the CELL
    as well as the query — d^2(q, c + b) per subspace — so each query
    carries one (m, codes) table PER PROBED CELL (n_q * nprobe * m *
    codes floats, closure-broadcast; tiny). Candidate rows keep their
    cid so the kernel picks the right table; everything else matches
    _adc_candidates (broadcast probe join, per-candidate lookups,
    local then global top-nq)."""
    m, codes_n, n_sub = books.shape
    cid_to_row = {int(c): i for i, c in enumerate(cent_ids)}
    # tables[(qid, cid)] = (m, codes) subspace distance table
    tables: dict = {}
    for qi, (qid, cells) in enumerate(probes):
        q = Q[qi]
        for cid in cells:
            cc = C[cid_to_row[cid]]
            t = np.zeros((m, codes_n))
            for s in range(m):
                qs = q[s * n_sub : (s + 1) * n_sub]
                cs = cc[s * n_sub : (s + 1) * n_sub]
                t[s] = (
                    (qs[None, :] - cs[None, :] - books[s]) ** 2
                ).sum(-1)
            tables[(int(qid), int(cid))] = t

    probe_df = (
        spark.createDataFrame(probes, "query_id long, cids array<long>")
        .select("query_id", F.explode("cids").alias("cid"))
    )
    cand = index.join(F.broadcast(probe_df), "cid")
    if exclude_self:
        cand = cand.filter(F.col("query_id") != F.col("vec_id"))
    keys = ["query_id", "cid"] if per_cell else ["query_id"]

    def adc_score(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            Cc = np.array(list(pdf["code"]), dtype=np.int64)
            qv = pdf["query_id"].values
            cv = pdf["cid"].values
            d2 = np.zeros(len(Cc))
            for i in range(len(Cc)):
                t = tables[(int(qv[i]), int(cv[i]))]
                d2[i] = t[np.arange(m), Cc[i]].sum()
            out = pd.DataFrame(
                {
                    "query_id": qv,
                    "cid": cv,
                    "neighbor_id": pdf["vec_id"].values,
                    "approx_cos": np.round(1.0 - d2 / 2.0, 6),
                }
            )
            yield out.sort_values(
                keys + ["approx_cos", "neighbor_id"],
                ascending=[True] * len(keys) + [False, True],
            ).groupby(keys).head(nq)

    scored = cand.select("query_id", "cid", "vec_id", "code").mapInPandas(
        adc_score,
        "query_id long, cid long, neighbor_id long, approx_cos double",
    )
    w = Window.partitionBy(*keys).orderBy(
        F.desc("approx_cos"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= nq)
        .select("query_id", "neighbor_id")
    )


def ivfpq_residual_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    overfetch: int = 4,
    n_centroids: int = 16,
    nprobe: int = 4,
    m: int = 4,
    codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quantizer: str = "smallest_id",
    kmeans_iters: int = 3,
    adaptive_overfetch: bool = True,
) -> DataFrame:
    """IVFADC with residual encoding (by_residual=True — the FAISS
    default): identical dataflow to ivfpq_topk, but codes quantize
    v_norm - centroid(cell) against residual-trained codebooks, and
    the per-query ADC table becomes per-(query, probed cell) —
    n_q * nprobe * m * codes floats, still closure-broadcast-tiny.
    On a CLUSTERED corpus the tighter residual distribution buys
    lower quantization error at the SAME 4-byte code size (pytest
    pins candidate recall >= the raw-encoding variant on a clustered
    corpus whose coarse cells align with its clusters); on data
    near-uniform on the sphere residuals are WIDER than the unit
    vectors and raw encoding wins (measured on the synthetic
    testdata: raw 0.72-0.74 vs residual 0.70 recall@5 — see
    pq_train_codebooks_residual for the geometry). Pick per corpus,
    exactly as FAISS exposes by_residual. Exact refine unchanged."""
    cent_ids, C = _coarse_centroids(
        corpus, n_centroids, id_col, vec_col,
        quantizer=quantizer, kmeans_iters=kmeans_iters,
    )
    books = pq_train_codebooks_residual(
        corpus, cent_ids, C, m=m, codes=codes,
        id_col=id_col, vec_col=vec_col,
    )
    index = _assign_encode_residual_df(
        corpus, books, cent_ids, C, id_col, vec_col
    )
    qrows = (
        queries.select(
            F.col(id_col).cast("long").alias("qid"),
            F.col(vec_col).alias("v"),
        )
        .orderBy("qid")
        .collect()
    )
    qids = np.array([r["qid"] for r in qrows])
    Q = np.array([np.asarray(r["v"], dtype=np.float64) for r in qrows])
    Q = Q / _safe_norms(Q)
    qS = np.round(Q @ C.T, 6)
    probe_order = np.argsort(-qS, axis=1, kind="stable")[:, :nprobe]
    probes = [
        (int(qid), [int(c) for c in cent_ids[probe_order[i]]])
        for i, qid in enumerate(qids)
    ]
    cand_ids = _adc_candidates_residual(
        index, probes, qids, Q, books, cent_ids, C,
        k * overfetch, corpus.sparkSession,
        per_cell=adaptive_overfetch,
    )
    return _exact_refine(cand_ids, corpus, queries, k, id_col, vec_col)


def semdedup_prune(
    corpus: DataFrame,
    tau: float,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cell_rows: int | None = 20_000,
    chunk_rows: int = 1024,
) -> DataFrame:
    """SemDedup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster the embedding space coarsely, then
    drop near-duplicates WITHIN each cluster only — the linear-cost
    scale path for which ``cosine_pairs_above`` is the guarded
    quadratic oracle.

    Keep rule (deterministic, single-pass, non-cascading): a vector
    is dropped iff some SAME-CELL vector with a SMALLER id has
    round(cosine, 6) >= tau against it — smaller ids win outright,
    and a vector's own dropped/kept status never changes what it
    suppresses. That makes the operator order-independent and fully
    SQL-expressible, so the oracle is a hash-checked DuckDB query,
    not a snapshot.

    Cells come from the same deterministic coarse quantizer as
    ivf_topk / ivfpq_topk (``_coarse_centroids``: the n_cells
    smallest-id corpus vectors, unit-normalized; a k-means refinement
    drops in by swapping only that function). Assignment is
    argmax(round(cos, 6)) with ties to the smallest cell id —
    byte-identical to the ann_ivf_topk oracle convention.

    Scale shape: one vectorized assignment pass (per-batch GEMM,
    centroid matrix closure-broadcast), then ONE shuffle grouping by
    cell id; each cell is scored by a row-chunked GEMM kernel
    (chunk_rows x |cell| working set, never |cell|^2 at once). The
    within-cell work is quadratic in CELL size by SemDedup's
    contract, so the scale knob is n_cells ~ N / target_cell_size;
    ``refuse_hot_groups`` rejects cells above ``max_cell_rows`` with
    a pointer to raising n_cells. No cross product ever forms: the
    only join is the implicit groupBy(cid).
    """
    from .guards import refuse_hot_groups

    cent_ids, C = _coarse_centroids(corpus, n_cells, id_col, vec_col)

    from .dedup import widen as _widen

    normed = _widen(
        corpus, min_bytes_per_task=_GEMM_MIN_TASK_BYTES
    ).select(
        F.col(id_col).cast("long").alias("vec_id"),
        _normalized(vec_col).alias("v"),
    )

    @pandas_udf("long")
    def assign_centroid(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype="int64")
        V = np.array([np.asarray(x, dtype=np.float64) for x in v])
        S = np.round(V @ C.T, 6)  # rows already unit-normalized
        # argmax takes the FIRST max -> smallest cell id on ties
        return pd.Series(cent_ids[np.argmax(S, axis=1)])

    assigned = normed.withColumn("cid", assign_centroid("v"))
    refuse_hot_groups(
        assigned, ["cid"], max_cell_rows, "semdedup_prune",
        "a larger n_cells (cells ~ N / target_cell_size)",
    )

    def cell_kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["vec_id"].to_numpy()
        order = np.argsort(ids, kind="stable")
        ids = ids[order]
        V = np.array(
            [np.asarray(x, dtype=np.float64) for x in pdf["v"].to_numpy()[order]]
        )
        m = len(ids)
        kept = np.ones(m, dtype=bool)
        col = np.arange(m)[None, :]
        for start in range(0, m, chunk_rows):
            chunk = V[start : start + chunk_rows]
            S = np.round(chunk @ V.T, 6)
            row = (start + np.arange(len(chunk)))[:, None]
            # dropped iff any smaller-id (== earlier-index) same-cell
            # vector scores >= tau; ids are sorted so index order is
            # id order, and duplicate suppression never cascades
            hit = (S >= tau) & (col < row)
            kept[start : start + len(chunk)] = ~hit.any(axis=1)
        return pd.DataFrame(
            {"vec_id": ids, "cid": pdf["cid"].iloc[0], "kept": kept}
        )

    return assigned.groupBy("cid").applyInPandas(
        cell_kernel, "vec_id long, cid long, kept boolean"
    )


def mmr_rerank(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    pool: int = 30,
    lam: float = 0.7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal Marginal Relevance diversification (Carbonell &
    Goldstein, SIGIR 1998, public literature) over an exact top-`pool`
    candidate set: greedily pick `k` items maximizing
    lam * rel(q, d) - (1 - lam) * max_{s in S} sim(d, s) — the
    standard retrieval-stage answer to near-duplicate result lists.

    Output: (query_id, neighbor_id, mmr_score, rank). Distribution
    shape: candidate generation is the existing linear/blocked ANN
    path; the greedy selection is per-query over `pool` rows (a
    pool x pool similarity matrix, KBs), run as one applyInPandas
    over query_id — embarrassingly parallel across queries, never
    quadratic in the corpus. Determinism: relevance uses the 6dp
    cos_sim from the candidate stage, pairwise sims and scores round
    to 6dp, score ties break toward the higher-relevance then
    smaller-id candidate -> golden-fixture oracle.
    """
    cands = brute_force_topk(
        corpus, queries, k=pool, id_col=id_col, vec_col=vec_col
    )
    cv = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        _normalized(vec_col).alias(
            "n_vec"
        ),
    )
    pool_df = cands.join(cv, "neighbor_id").select(
        "query_id", "neighbor_id", "cos_sim", "n_vec"
    )

    def select_diverse(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(
            ["cos_sim", "neighbor_id"], ascending=[False, True]
        ).reset_index(drop=True)
        V = np.array(
            [np.asarray(x, dtype=np.float64) for x in pdf["n_vec"]]
        )
        S = np.round(V @ V.T, 6)  # unit vectors -> cosine
        rel = pdf["cos_sim"].to_numpy()
        ids = pdf["neighbor_id"].to_numpy()
        chosen: list[int] = []
        scores: list[float] = []
        remaining = list(range(len(pdf)))
        while remaining and len(chosen) < k:
            if chosen:
                div = S[np.ix_(remaining, chosen)].max(axis=1)
            else:
                div = np.zeros(len(remaining))
            mmr = np.round(
                lam * rel[remaining] - (1.0 - lam) * div, 6
            )
            # argmax with smaller-neighbor-id tie-break: remaining is
            # kept sorted by (rel desc, id asc), so the first maximal
            # entry is the deterministic winner
            best = int(np.argmax(mmr))
            scores.append(float(mmr[best]))
            chosen.append(remaining.pop(best))
        return pd.DataFrame(
            {
                "query_id": pdf["query_id"].iloc[0],
                "neighbor_id": ids[chosen],
                "mmr_score": scores,
                "rank": np.arange(1, len(chosen) + 1, dtype=np.int32),
            }
        )

    return (
        pool_df.groupBy("query_id")
        .applyInPandas(
            select_diverse,
            "query_id long, neighbor_id long, mmr_score double, "
            "rank int",
        )
    )
