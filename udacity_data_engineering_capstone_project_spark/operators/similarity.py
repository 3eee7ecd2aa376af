"""Similarity search over embedding columns (``array<float>``).

Beyond-reference (BASELINE.json north star). Two tiers:

- brute_force_topk: exact cosine top-k. The query set is broadcast, the
  corpus streams — cost is |Q| x |corpus| dot products, all JVM-side
  higher-order functions. Correct at any scale where |Q| is small;
  the baseline the approximate tier is measured against.
- IVF (ivf_topk): partition the corpus into
  Voronoi cells around centroids, then probe only ``nprobe`` cells per
  query — the classic inverted-file ANN layout. At 100 TB the
  assignment is one Arrow routing pass and search touches
  nprobe/ncentroids of the data. Centroid choice here is pluggable
  (callers pass any small centroid DataFrame; tests use a deterministic
  subset — k-means would drop in without changing the dataflow).

Ranking is computed on cosine ROUNDED to 4 decimals with the candidate
id as tie-break, so ordering is reproducible across engines (the DuckDB
oracle ranks the same way).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..functions.hashing import srp_planes
from ..functions.vectors import cosine_cols, to_double_array
from ..session import ROOT_SCOPE, hold, resource_scope


def _with_double_vec(df: DataFrame, vec_col: str, out: str) -> DataFrame:
    return df.select(
        *[c for c in df.columns if c != vec_col], to_double_array(vec_col).alias(out)
    )


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    max_broadcast_vectors: int = 200_000,
    max_broadcast_bytes: int = 256 << 20,
    query_chunk: int = 4096,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    Output: (query_id, neighbor_id, cos_sim, rank). Self-matches are
    excluded. ``queries`` must be small (it is shipped to every task;
    guarded by ``max_broadcast_vectors``).

    r12 optimization (guide §4.2): the original shape was
    ``corpus.crossJoin(broadcast(queries))`` + the JVM higher-order-
    function cosine + a full window over |q| x |corpus| sims rows.
    The HOF fold pays ~4 us per dot (interpreted per element), and the
    window shuffles/sorts every sim — measured 2.6 s for a 265 x 808
    fixture block at sf0.1 where the flops say milliseconds. Now ONE
    ``mapInPandas`` pass streams the corpus (each vector crosses the
    Arrow boundary once, not once per query), computes the rounded
    cosine block at BLAS speed behind the boundary guard
    (:func:`_rounded_cos_mat` — bit-equal to ``cosine_cols`` and the
    DuckDB oracle, pinned by the kernel-parity pytests), and emits
    only per-batch top-k partials through the shared vectorized
    kernel (:func:`_chunk_topk_excluding_self`, the same total order:
    rounded cos DESC, neighbor id ASC, self excluded). The final
    window re-ranks |batches| x |q| x k partial rows instead of
    |q| x |corpus| sims — the per-batch top-k provably contains every
    global top-k member under the same total order, so results are
    row-identical (oracle hashes unchanged).

    The query matrix ships via ``SparkContext.broadcast`` (the
    knn_self_topk_arrow discipline), held in the caller's
    :func:`session.resource_scope`: closing it destroys the handle,
    however the caller wrapped the result.

    Guards (ADVICE r12): the collect itself is bounded by
    ``spark.driver.maxResultSize`` (1 GiB default — a clear Spark
    error, not an OOM); past that, BOTH a row bound and a BYTE bound
    (rows x dim x 8 <= ``max_broadcast_bytes``) gate the
    ship-to-every-task matrix — 200k rows of 4096-dim float64 is
    ~6.5 GB per Python worker, which the old row-only guard waved
    through."""
    q_rows = (
        _with_double_vec(queries, vec_col, "qv")
        .select(F.col(id_col).alias("query_id"), "qv")
        .collect()
    )
    if len(q_rows) > max_broadcast_vectors:
        raise ValueError(
            f"brute_force_topk: {len(q_rows)} query vectors exceed the "
            f"{max_broadcast_vectors} ship-to-every-task bound; route "
            "queries through the IVF serving path instead"
        )
    q_ids = np.array([r["query_id"] for r in q_rows], dtype=np.int64)
    q_mat = (
        np.array([r["qv"] for r in q_rows], dtype=np.float64)
        if q_rows
        else np.empty((0, 1), dtype=np.float64)
    )
    if q_mat.nbytes > max_broadcast_bytes:
        raise ValueError(
            f"brute_force_topk: query matrix is {q_mat.nbytes} bytes "
            f"(> {max_broadcast_bytes}); every Python worker unpickles "
            "the full matrix — route queries through the IVF serving "
            "path instead"
        )
    bc = hold(corpus.sparkSession.sparkContext.broadcast((q_ids, q_mat)))
    kk, chunk_cap = int(k), int(query_chunk)

    def partials(batches):
        qi, qm = bc.value
        for pdf in batches:
            if not len(pdf) or not len(qi):
                continue
            oq, on, oc, _rank = _chunk_topk_excluding_self(
                qi,
                qm,
                pdf["id"].to_numpy(dtype=np.int64),
                np.vstack(pdf["v"].to_numpy()),
                kk,
                chunk_cap=chunk_cap,
            )
            yield pd.DataFrame(
                {"query_id": oq, "neighbor_id": on, "cos_sim": oc}
            )

    src = _with_double_vec(corpus, vec_col, "cv").select(
        F.col(id_col).alias("id"), F.col("cv").alias("v")
    )
    part = src.mapInPandas(
        partials, "query_id long, neighbor_id long, cos_sim double"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        part.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def cosine_arrow_udf():
    """Arrow kernel: rounded cosine of two double-array columns,
    bit-identical to functions.vectors.cosine_cols (and hence the
    DuckDB oracle): np.cumsum is a sequential running sum, the same
    add order as the left fold's (((0+p0)+p1)+...); np.sqrt/floor are
    the same IEEE ops. Pinned by
    test_arrow_cosine_matches_hof_bit_for_bit.

    Returned ``asNondeterministic()`` (optimization guide §4.4): both
    callers filter on the rounded cosine (the similarity threshold),
    and Catalyst pushes that filter below the projection, duplicating
    the ArrowEvalPython node — every candidate pair paid the cosine
    kernel TWICE (plan-verified on embedding_near_dup: ArrowEvalPython
    → Filter → ArrowEvalPython before, one node after). The kernel is
    pure; blocking reorder/duplication cannot change emitted values."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def cos_r_arrow(va: pd.Series, vb: pd.Series) -> pd.Series:
        if len(va) == 0:
            return pd.Series([], dtype="float64")
        a = np.vstack(va.to_numpy())
        b = np.vstack(vb.to_numpy())
        dot = np.cumsum(a * b, axis=1)[:, -1]
        na = np.sqrt(np.cumsum(a * a, axis=1)[:, -1])
        nb = np.sqrt(np.cumsum(b * b, axis=1)[:, -1])
        cos = dot / (na * nb)
        return pd.Series(np.floor(cos * 1e4 + 0.5) / 1e4)

    return cos_r_arrow.asNondeterministic()


def _chunk_topk_excluding_self(
    q_ids: np.ndarray,
    q_mat: np.ndarray,
    m_ids: np.ndarray,
    m_mat: np.ndarray,
    kk: int,
    chunk_cap: int = 4096,
):
    """Shared per-chunk top-k kernel: for every query row, the ``kk``
    best members by (rounded left-fold cosine DESC, member id ASC),
    excluding the member equal to the query id. Returns
    (query_id, neighbor_id, cos_sim, rank) flat arrays.

    VECTORIZED across the chunk (round 10): the r7-r9 shape ran a
    per-row Python loop (boolean mask + lexsort + three list appends
    per query row, ~107 us/row measured) — at the 1000x tier that loop
    alone was ~640 CPU-seconds of the hubness audit's per-cell phase,
    dwarfing the actual dots. Here the members are sorted by id ONCE
    (so a stable argsort on -cos rounds ties to the lowest id — the
    exact lexsort((ids, -cos)) permutation), the top kk+1 columns are
    taken for every row in one argsort, and the self-exclusion
    compacts via a cumsum rank — no per-row Python. Bit-parity with
    the loop it replaces is pinned by the existing kernel-equality
    pytests (ivf_self vs ivf_topk vs brute force vs the DuckDB
    oracles). Memory: the working set is the chunk x |members| cosine
    matrix, ~32 MB via the usual two-axis blocking."""
    order_m = np.argsort(m_ids, kind="stable")
    m_ids = m_ids[order_m]
    m_mat = m_mat[order_m]
    m_norms = np.sqrt(np.cumsum(m_mat * m_mat, axis=1)[:, -1])
    n_mem = len(m_ids)
    chunk_q = max(1, min(chunk_cap, (4 << 20) // max(1, n_mem)))
    out_q, out_n, out_c, out_r = [], [], [], []
    for s in range(0, len(q_ids), chunk_q):
        e = min(s + chunk_q, len(q_ids))
        blk = q_mat[s:e]
        bn = np.sqrt(np.cumsum(blk * blk, axis=1)[:, -1])
        cos = _rounded_cos_mat(blk, bn, m_mat, m_norms)
        width = min(kk + 1, n_mem)  # self occurs at most once
        # top-width by (cos DESC, id ASC) WITHOUT a full-row sort: the
        # rounded cosine is exactly k/1e4, so (-k)*n_mem + member_index
        # is an exact int64 composite key (index ascending == id
        # ascending after the sort above; no ties remain) — argpartition
        # is O(n) per row vs argsort's O(n log n), and with rounded
        # cosines ties are COMMON, so partitioning on the float alone
        # would break the lowest-id contract; the composite can't.
        key = (-np.rint(cos * 1e4).astype(np.int64)) * np.int64(n_mem) + (
            np.arange(n_mem, dtype=np.int64)[None, :]
        )
        if width < n_mem:
            part = np.argpartition(key, width - 1, axis=1)[:, :width]
            pk = np.take_along_axis(key, part, axis=1)
            sel = np.take_along_axis(
                part, np.argsort(pk, axis=1, kind="stable"), axis=1
            )
        else:
            sel = np.argsort(key, axis=1, kind="stable")
        nbr = m_ids[sel]
        sc = np.take_along_axis(cos, sel, axis=1)
        keep = nbr != q_ids[s:e, None]
        pos = np.cumsum(keep, axis=1)  # 1-based rank among non-self
        take = keep & (pos <= kk)
        ridx, cidx = np.nonzero(take)
        out_q.append(q_ids[s:e][ridx])
        out_n.append(nbr[ridx, cidx])
        out_c.append(sc[ridx, cidx])
        out_r.append(pos[ridx, cidx].astype(np.int32))
    if not out_q:
        z = np.array([], dtype=np.int64)
        return z, z, np.array([], dtype=np.float64), np.array([], dtype=np.int32)
    return (
        np.concatenate(out_q),
        np.concatenate(out_n),
        np.concatenate(out_c),
        np.concatenate(out_r),
    )


def knn_self_topk_arrow(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    max_broadcast_vectors: int = 200_000,
    query_chunk: int = 4096,
) -> DataFrame:
    """Exact self-kNN (every corpus vector queries the whole corpus,
    self excluded) as ONE Arrow kernel instead of the crossJoin + JVM
    higher-order-function cosine: the HOF path pays ~4 us per dot
    (measured 65 s for the 5000^2 fixture graph at sf0.1); vectorized
    numpy does the same 25M dots in ~1 s across partitions. Bit-parity
    with :func:`brute_force_topk` and the DuckDB oracle is preserved
    the cosine_arrow_udf way: dots and norms are SEQUENTIAL cumsums
    (the left-fold add order), the same floor(x*1e4+0.5)/1e4 rounding,
    ranking by (rounded cos desc, neighbor_id) — pinned by pytest
    equality against brute_force_topk on the fixture.

    The corpus matrix ships via ``SparkContext.broadcast`` (guard:
    ``max_broadcast_vectors``; ~100 MB at dim 64 — beyond that an
    exact n^2 self-kNN is the wrong tool at any speed: run the audit
    over the IVF/PQ top-k output instead, which is the documented
    deployment path — exercised by the ``ann_hubness_audit_ivf``
    registry query). Broadcast, not closure capture, so the matrix is
    shipped once per executor instead of re-pickled into every
    stage's task binary if the kernel feeds multiple actions
    (VERDICT r7 finding #2). The broadcast is held in the caller's
    :func:`session.resource_scope`: a serving loop calling this kernel
    repeatedly opens one scope per call, or up-to-100 MB broadcasts
    accumulate until the scope closes (ADVICE r8). Output:
    (query_id, neighbor_id, cos_sim, rank).
    """
    rows = corpus.select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v")
    ).collect()
    if len(rows) > max_broadcast_vectors:
        raise ValueError(
            f"knn_self_topk_arrow: {len(rows)} vectors exceed the "
            f"{max_broadcast_vectors} exact-self-kNN bound; run the "
            "audit over the ANN (IVF/PQ) top-k output instead"
        )
    ids_l = np.array([r["id"] for r in rows], dtype=np.int64)
    mat_l = np.array([r["v"] for r in rows], dtype=np.float64)
    # corpus-side norms once, in the sequential-cumsum order
    c_norms_l = np.sqrt(np.cumsum(mat_l * mat_l, axis=1)[:, -1])
    bc = hold(corpus.sparkSession.sparkContext.broadcast((ids_l, mat_l, c_norms_l)))
    kk, chunk_cap = int(k), int(query_chunk)

    def topk_batches(batches):
        ids, mat, _c_norms = bc.value
        # chunking, two-axis blocking and the vectorized top-k live in
        # the shared kernel (the r7-r9 per-row lexsort loop is gone —
        # round 10); the caller's dial caps the chunk
        for pdf in batches:
            if not len(pdf):
                continue
            oq, on, oc, orank = _chunk_topk_excluding_self(
                pdf["id"].to_numpy(dtype=np.int64),
                np.vstack(pdf["v"].to_numpy()),
                ids,
                mat,
                kk,
                chunk_cap=chunk_cap,
            )
            yield pd.DataFrame(
                {
                    "query_id": oq,
                    "neighbor_id": on,
                    "cos_sim": oc,
                    "rank": orank,
                }
            )

    src = corpus.select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v")
    )
    return src.mapInPandas(
        topk_batches,
        "query_id long, neighbor_id long, cos_sim double, rank int",
    )


def ivf_self_topk_arrow(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "centroid_id",
    k: int = 5,
    nprobe: int = 2,
    query_chunk: int = 4096,
    two_level: bool = False,
) -> DataFrame:
    """IVF SELF-kNN: every corpus vector queries the corpus through the
    IVF route (probe its ``nprobe`` nearest cells, rank only vectors
    ASSIGNED to those cells) — the deployment path for corpus-wide
    neighbor-graph audits (hubness, kNN-graph construction) past
    :func:`knn_self_topk_arrow`'s exact-broadcast bound, which its
    guard message prescribes (VERDICT r7 next-steps #2).

    Plan shape, and why it scales where the exact kernel refuses:

    - centroids are a driver-side numpy closure (|cells| x dim — tiny
      by construction; at deployment |cells| is corpus-scaled the
      semantic_dedup_k way, so per-cell population stays bounded);
    - ONE ``mapInPandas`` pass routes each vector to its ``nprobe``
      probe cells and marks the rank-1 cell as its MEMBERSHIP cell
      (the :func:`ivf_topk` membership rule: max rounded cosine,
      centroid id breaks ties);
    - candidate generation is ``groupBy(cell).applyInPandas``: a
      shuffle keyed on centroid_id, then BLOCKED vectorized dots
      between the cell's probers and members inside each task — the
      corpus is NEVER broadcast and never crossJoined; per-task
      memory is O(|cell| x dim);
    - per-cell top-k, then one global window re-rank across each
      query's ``nprobe`` cells (<= nprobe*k rows per query; the
      global top-k is contained in the union of per-cell top-k's).

    Bit-parity with :func:`ivf_topk` / the DuckDB oracle is preserved
    the cosine_arrow_udf way: sequential-cumsum dots and norms (the
    left-fold add order), floor(x*1e4+0.5)/1e4 rounding, every
    ordering (assignment, probes, ranking) on (rounded cos desc, id).
    Output: (query_id, neighbor_id, cos_sim, rank).

    ``two_level=True`` routes hierarchically through the shared kernel
    (:func:`_nearest_cells_arrow`): coarse branch ranking first, fine
    cells of the top branches only — the dial that makes a
    BOUNDED-POPULATION cell count (:func:`ivf_cells_bounded`)
    affordable: per-vector routing dots become ~3*sqrt(cells) instead
    of cells, while bounded cells pin the per-cell candidate phase to
    ~nprobe*pop dots per query — the SPANN shape (bounded posting
    lists + small in-memory coarse router). With the sqrt dial and
    flat routing BOTH phases are O(n^1.5) (the r9 1000x run measured
    24.7x/decade); bounded cells + two-level routing measured the
    next decade at ~n*(3*sqrt(n/pop) + 2*pop) — ~11x/decade at the
    100x->1000x step, and faster in absolute terms at both ends.

    Per-task memory (ADVICE r9): a ``groupBy(cell).applyInPandas``
    group holds the whole cell — members AND probers, vectors
    included — as one in-memory pandas frame (~(1+nprobe) x |cell| x
    (8 + dim*8) bytes), and a skewed hot cell cannot sort-spill the
    way a join could. The bounded-population dial caps the EXPECTED
    group at ~(1+nprobe)*pop rows (~1.5 MB at pop=512/dim=64); a
    pathologically hot Voronoi cell (all-duplicate corpora) is the
    residual skew bound — salt such cells upstream with a secondary
    band key, as semantic_dedup's docstring prescribes. Zero-norm
    vectors are a precondition violation (NaN cosine orders
    differently across engines — see :func:`_nearest_cells_arrow`).
    """
    npb, kk, chunk = int(nprobe), int(k), int(query_chunk)
    src = corpus.select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v")
    )
    routed = _nearest_cells_arrow(
        src, "id", "v", centroids, centroid_id_col, vec_col,
        nprobe=npb, keep_vec=True, with_rank=True, two_level=two_level,
    ).select(
        F.col("centroid_id").cast("long").alias("cell"),
        F.col("id").cast("long").alias("id"),
        "v",
        (F.col("probe_rank") == 1).alias("is_member"),
    )

    def cell_topk(pdf: pd.DataFrame) -> pd.DataFrame:
        # adaptive chunk budget + two-axis blocking live inside the
        # shared vectorized kernel (_chunk_topk_excluding_self): a
        # skewed hot cell can't blow the ~32 MB working set, and the
        # r7-r9 per-row lexsort loop (the measured dominant cost of
        # this phase at 1000x) is gone
        empty = pd.DataFrame(
            {
                "query_id": pd.Series([], dtype="int64"),
                "neighbor_id": pd.Series([], dtype="int64"),
                "cos_sim": pd.Series([], dtype="float64"),
            }
        )
        if not len(pdf):
            return empty
        mem = pdf[pdf["is_member"]]
        if not len(mem):
            return empty
        oq, on, oc, _ = _chunk_topk_excluding_self(
            pdf["id"].to_numpy(dtype=np.int64),
            np.vstack(pdf["v"].to_numpy()),
            mem["id"].to_numpy(dtype=np.int64),
            np.vstack(mem["v"].to_numpy()),
            kk,
            chunk_cap=chunk,
        )
        if not len(oq):
            return empty
        return pd.DataFrame(
            {"query_id": oq, "neighbor_id": on, "cos_sim": oc}
        )

    per_cell = routed.groupBy("cell").applyInPandas(
        cell_topk, "query_id long, neighbor_id long, cos_sim double"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return per_cell.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= kk
    )


def ivf_cells_bounded(n: int, pop: int = 512, min_cells: int = 8) -> int:
    """Bounded-POPULATION IVF cell count: ``cells = max(min_cells,
    ceil(n / pop))`` — cells hold ~``pop`` vectors at any corpus size,
    so the per-cell candidate phase is ``n * nprobe * pop * dim``
    FLOPs: LINEAR by construction (the SPANN/DiskANN posting-list
    shape). This dial is only affordable with HIERARCHICAL routing
    (``two_level=True`` in the IVF kernels): flat routing against
    n/pop centroids is the n^2*dim/pop quadratic the r8 ``n/2048``
    dial hid (VERDICT r8 wrong #3); two-level routing costs
    ``~(1 + coarse_probe) * sqrt(n/pop)`` dots per vector, leaving
    the candidate term dominant through ~20M vectors at pop=512
    (routing 187 vs candidates 1024 dots/vector at 2M; the residual
    n^0.5 routing term takes a third level — or a graph router, as
    SPANN's SPTAG — at later decades, not a re-dial).

    Versus the FAISS sqrt rule (``max(min_cells, ceil(sqrt(n)))``,
    both IVF phases balanced at O(n^1.5 * dim)): sqrt is OPTIMAL for
    flat routing — both phases O(n^1.5) — and stays the dial wherever
    routing is flat; bounded-pop + two-level dominates it everywhere
    the hierarchy is available (at 2M vectors: ~1200 vs ~4250
    dots/vector, measured as the r10 hubness-audit refresh). Probed
    recall shifts with the geometry (nprobe*pop candidates per query
    instead of nprobe*sqrt(n)) — the serving dial a deployment picks
    by recall target; the audit's job is to profile the graph the
    deployment actually serves. Replayable by a static oracle:
    DuckDB ``GREATEST(min_cells, CEIL(count(*) / pop))`` — exact
    integer arithmetic on both engines."""
    import math

    return max(min_cells, math.ceil(max(int(n), 0) / max(int(pop), 1)))


def srp_rows_scaled(n: int, min_rows: int = 14, max_rows: int = 28) -> int:
    """Corpus-scaled SRP band WIDTH: ``r = clamp(ceil(log2 n) + 4,
    14, 28)``. A random pair survives an r-bit band with p = 2^-r, so
    expected random candidates are ``n^2/2 * bands / 2^r``; pinning
    r to log2(n)+4 makes that ``n * bands / 32`` — linear BY
    CONSTRUCTION at any n. This is the dial the r7 100x full-headline
    run caught pinned at the fixture value (16x14 collided ~5e8
    random candidates at n = 1e6: 4.8 -> 238 s — the SemDeDup-k
    lesson, round 6, repeated on this operator). Recall at the
    fixture's planted c ~ 0.9999 pairs stays ~1 through r = 28
    ((1 - 0.9955^28)^16 ~ 2e-15); borderline-c recall is the price,
    and raising ``bands`` alongside (srp_auto_config) buys it back
    when a deployment mines close to its threshold."""
    import math

    return min(max(min_rows, math.ceil(math.log2(max(n, 2))) + 4), max_rows)


def embedding_near_dup(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    threshold: float = 0.95,
    bands: int = 16,
    rows: int = 14,
    seed: int = 7,
    plane_stride: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup pairs via signed-random-projection LSH
    + exact verification — the dedup-by-embedding scale path.

    Each vector gets ``bands * rows`` sign bits (dot against seeded
    +-1 hyperplanes); ``bands`` integer band keys come from
    ``rows``-bit slices. Vectors sharing any band key become candidate
    pairs (self-join on the key, the only shuffle that grows with
    data); candidates are verified with the exact rounded cosine >=
    ``threshold``.

    The sign bits are computed in ONE Arrow-batched pandas_udf as a
    numpy (batch x dim) @ (dim x planes) matmul — the sanctioned
    Python hop: 80 dots/vector through interpreted higher-order
    functions cost ~4 us each, the vectorized matmul ~1 ns. A sign
    can only disagree with the oracle's sequential-sum dot where
    |dot| ~ 1e-12 (probability ~0), and a flipped bit merely
    perturbs the candidate set — verified output is unaffected
    unless EVERY band of a matching pair flips.

    Recall at cosine c: p_bit = 1 - arccos(c)/pi; P[miss] =
    (1 - p_bit^rows)^bands — with 16 bands x 14 rows: ~1e-19 at
    c=0.9999, 1.7% at c=0.95; a random (c~0) pair survives a band
    with p = 2^-14, keeping candidates ~ bands/2^14 ~ 1e-3 of all
    pairs. The band/row dial trades plane count for the random-
    collision quadratic: the old 8x10 config collided ~8x more
    random pairs AND missed 2x more true pairs at c=0.95. The
    DuckDB oracle replicates the same algorithm with the same planes.

    ``plane_stride`` (default: ``rows``) fixes the plane-to-band
    layout independently of ``rows``: band ``j`` uses planes
    ``j*stride .. j*stride + rows - 1`` of ``srp_planes(bands *
    stride)``. A CORPUS-SCALED ``rows`` (srp_rows_scaled) with a
    constant stride keeps the plane literals — and therefore the
    static DuckDB oracle text — identical at every scale; only the
    per-band bit COUNT varies, which the oracle gates with a scalar
    CASE per bit.

    Output: (id_a, id_b, cos_r) with id_a < id_b.
    """
    from pyspark.sql.functions import pandas_udf

    stride = rows if plane_stride is None else plane_stride
    assert stride >= rows
    plane_mat = np.array(srp_planes(bands * stride, dim, seed)).T  # dim x planes
    weights = np.array([1 << k for k in range(rows)], dtype=np.int64)
    offsets = np.array(
        [j << (stride if stride > rows else rows) for j in range(bands)],
        dtype=np.int64,
    )

    @pandas_udf("array<long>")
    def band_keys(vecs: pd.Series) -> pd.Series:
        m = np.vstack(vecs.to_numpy())  # batch x dim, float64
        bits = (m @ plane_mat > 0.0).astype(np.int64)  # batch x planes
        keys = bits.reshape(len(m), bands, stride)[:, :, :rows] @ weights + offsets
        return pd.Series(list(keys))

    c = _with_double_vec(corpus, vec_col, "cv").select(
        F.col(id_col).alias("vid"), "cv"
    )
    # persisted: the self-join below references this subtree TWICE —
    # without the persist, the Arrow sign-bit UDF (and the corpus scan
    # feeding it) would run once per side, doubling the dominant cost
    # at scale. Rows are (long, long) — tiny.
    keyed = hold(c.select(
        "vid", F.explode(band_keys("cv")).alias("band_key")
    ).persist(StorageLevel.MEMORY_AND_DISK))
    x = keyed.alias("x")
    y = keyed.alias("y")
    candidates = (
        x.join(
            y,
            (F.col("x.band_key") == F.col("y.band_key"))
            & (F.col("x.vid") < F.col("y.vid")),
        )
        .select(F.col("x.vid").alias("id_a"), F.col("y.vid").alias("id_b"))
        .distinct()
    )
    # Verification without shuffling the corpus when candidates are a
    # sliver (the regime LSH exists for): (1) persist the candidate
    # pairs (referenced three times below), (2) broadcast the
    # candidate-id set as a semi-join FILTER on the corpus — the
    # (id, vector) rows never hit an exchange — and (3) broadcast the
    # small filtered-corpus slice into both verification joins.
    # GUARDED, not pinned (r8 1000x catch): when a corpus is dup-heavy
    # the candidate-id set is a corpus FRACTION, and the pinned
    # vector-slice broadcast collected >1 GB into the driver at 2M
    # vectors (maxResultSize abort). Past the bound the same joins run
    # hint-free: the semi-join and both verification joins become
    # vid-keyed shuffles — linear, just not exchange-free. The dedup
    # operators' _bc discipline, applied here.
    candidates = hold(candidates.persist(StorageLevel.MEMORY_AND_DISK))
    ids = hold(
        candidates.select(F.col("id_a").alias("vid"))
        .unionByName(candidates.select(F.col("id_b").alias("vid")))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    n_ids = ids.count()
    # vector rows are ~(8 + dim*8) bytes; bound the broadcast build at
    # ~250 MB so 32 concurrent task copies never press the heap
    id_bound = max(1, 250_000_000 // (8 + dim * 8))

    def _bc(d):
        return F.broadcast(d) if n_ids <= id_bound else d

    cf = hold(c.join(_bc(ids), "vid", "left_semi").persist(StorageLevel.MEMORY_AND_DISK))
    # Exact-cosine verification as ONE vectorized Arrow kernel, not the
    # interpreted zip_with/aggregate fold (numpy batch math is ~100x
    # cheaper per element); cosine_arrow_udf is nondeterministic since
    # r12, so the threshold filter cannot be pushed below the
    # projection and the kernel runs ONCE per candidate (it ran twice
    # before — plan-verified). A MEASURED NEGATIVE RESULT for the
    # record (r12): replacing these broadcast joins with a collected
    # id->vector dict + id-pairs-only mapInPandas kernel (the dedup
    # verify discipline) was 15-30% SLOWER at sf0.1 AND the 10x
    # replica — on THIS operator the candidate-id semi-join prunes
    # almost nothing (every planted near-dup makes both its vectors
    # candidates), so the driver-side dict build/pickle of nearly the
    # whole corpus costs more than the per-pair array attach saves;
    # the dedup digest-set verify keeps the kernel because its sliver
    # IS small.
    cos_r_arrow = cosine_arrow_udf()

    ca = cf.alias("ca")
    cb = cf.alias("cb")
    return (
        candidates.join(_bc(ca), F.col("id_a") == F.col("ca.vid"))
        .join(_bc(cb), F.col("id_b") == F.col("cb.vid"))
        .select(
            "id_a",
            "id_b",
            cos_r_arrow(F.col("ca.cv"), F.col("cb.cv")).alias("cos_r"),
        )
        .filter(F.col("cos_r") >= F.lit(threshold))
    )


def srp_auto_config(
    n: int,
    target_cos: float = 0.99,
    miss: float = 1e-6,
    min_rows: int = 14,
    max_rows: int = 28,
) -> tuple[int, int]:
    """Pick an SRP-LSH (bands, rows) configuration for a corpus of
    ``n`` vectors: band width grows with log2(n) so the RANDOM
    band-collision count stays ~linear in n, and the band count is
    then sized to hold the miss probability at ``target_cos`` below
    ``miss``.

    The math: a random (cosine ~0) pair matches one ``r``-bit band
    with p = 2^-r, so expected random candidates are
    ``n^2/2 * bands / 2^r`` — fixing r = ceil(log2 n) + 4 makes that
    ``n * bands / 32``: linear, by construction, at ANY n. A true pair
    at cosine c matches a band with ``p_band = (1 - arccos(c)/pi)^r``;
    ``bands = ceil(ln(miss) / ln(1 - p_band))`` pins recall. This is
    the dial the fixed 16x14 config (tuned for the fixture's ~1e3-1e4
    vectors) needs turned at 100 TB — at n = 1e6 it returns r = 24,
    at n = 1e9 r = 28 (capped: beyond ~28 bits, plane count and
    signature width dominate; shard the corpus instead).
    """
    import math

    rows = min(max(min_rows, math.ceil(math.log2(max(n, 2))) + 4), max_rows)
    p_bit = 1.0 - math.acos(target_cos) / math.pi
    p_band = p_bit**rows
    bands = max(1, math.ceil(math.log(miss) / math.log(1.0 - p_band)))
    return bands, rows


def hard_negatives(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    k: int = 10,
) -> DataFrame:
    """Contrastive hard-negative mining: for each query vector, the
    top-``k`` most-similar corpus vectors with a DIFFERENT label — the
    highest-value negatives for embedding-model training (in-batch
    randoms are too easy; same-label neighbors are positives, not
    negatives).

    Output: (query_id, neighbor_id, neighbor_label, cos_sim, rank),
    rank 1 = hardest. Ranking is on the rounded cosine with an id
    tie-break (engine-independent order).

    Scale shape = :func:`brute_force_topk`'s: the query set (a
    training-batch-sized sample) is broadcast against the corpus, so
    the corpus scans map-side only; per-query top-k is a
    TakeOrderedAndProject-style window, not a global sort. Swap in
    :func:`ivf_topk`'s cell-probing for the sublinear variant — the
    label-mismatch predicate composes as the same post-filter.
    """
    q = _with_double_vec(queries, vec_col, "qv").select(
        F.col(id_col).alias("query_id"), F.col(label_col).alias("q_label"), "qv"
    )
    c = _with_double_vec(corpus, vec_col, "cv").select(
        F.col(id_col).alias("neighbor_id"),
        F.col(label_col).alias("neighbor_label"),
        "cv",
    )
    sims = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_label") != F.col("q_label"))
        .select(
            "query_id",
            "neighbor_id",
            "neighbor_label",
            cosine_cols(F.col("qv"), F.col("cv")).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def semantic_dedup(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cluster_col: str = "cluster",
    threshold: float = 0.95,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023):
    pairwise cosine WITHIN pre-assigned clusters only; a vector is a
    semantic duplicate iff some lower-id vector in its cluster has
    rounded cosine >= ``threshold``, and its keeper anchor is the MIN
    such id (deterministic scan order — the paper's keep-one-per-
    epsilon-ball approximation without an iterative pass).

    Output: (vec_id, cluster, is_dup, dup_of) — ``dup_of`` NULL for
    keepers.

    Scale shape: the cluster assignment (from :func:`kmeans_cosine` /
    :func:`centroid_table` in a real pipeline — any partition works,
    here it is a column the caller provides) bounds the quadratic: the
    self-join shuffles on the cluster key and costs sum(n_c^2), not
    corpus^2 — k is the dial that keeps n_c ~ corpus/k executor-sized.
    The exact cosine runs ONCE per candidate in the shared Arrow
    kernel (``cosine_arrow_udf``); a built-in expression here would be
    inlined into the join condition and recomputed by the projection
    (see :func:`embedding_near_dup`). A mega-cluster (skewed
    assignment) is the known failure mode — at 100 TB, cap cluster
    size upstream by splitting on a secondary SRP band key.
    """
    c = hold(_with_double_vec(corpus, vec_col, "cv").select(
        F.col(id_col).alias("vid"), F.col(cluster_col).alias("cl"), "cv"
    ).persist(StorageLevel.MEMORY_AND_DISK))
    cos_r_arrow = cosine_arrow_udf()
    a = c.alias("a")
    b = c.alias("b")
    dups = (
        a.join(b, (F.col("a.cl") == F.col("b.cl")) & (F.col("a.vid") < F.col("b.vid")))
        .select(
            F.col("b.vid").alias("vid"),
            F.col("a.vid").alias("prior"),
            cos_r_arrow(F.col("a.cv"), F.col("b.cv")).alias("cos_r"),
        )
        .filter(F.col("cos_r") >= F.lit(threshold))
        .groupBy("vid")
        .agg(F.min("prior").alias("dup_of"))
    )
    return (
        c.select("vid", "cl")
        .join(dups, "vid", "left")
        .select(
            F.col("vid").alias(id_col),
            F.col("cl").alias(cluster_col),
            F.col("dup_of").isNotNull().alias("is_dup"),
            "dup_of",
        )
    )


#: Cap on GATHERED doubles per suspect-recompute slice in
#: _rounded_cos_mat — the usual ~32 MB working-set budget
#: (4M doubles); one slice holds (step x d) for step = cap // d.
_SUSPECT_CHUNK_ELEMS = 4 << 20


def _rounded_cos_mat(m: np.ndarray, m_norms: np.ndarray, c_mat: np.ndarray,
                     c_norms: np.ndarray, block: int | None = None) -> np.ndarray:
    """Rounded cosine matrix between row blocks, BIT-EQUAL to the
    left-fold contract at BLAS speed (round 10).

    The r8-r9 shape ran a d-step outer-product fold that preserves
    the exact left-fold add order but does ~2
    element-ops per 24 bytes of accumulator traffic: measured 20x
    slower than ``np.matmul`` per group, and DRAM-bandwidth-bound
    under 32 concurrent workers (the box has ~4 cores' worth of
    bandwidth, so the 1000x hubness per-cell phase parallelized 4x,
    not 32x — 155 s where the flops say seconds).

    Here: dots come from BLAS (register-blocked, arbitrary summation
    order), then the Table-Maker's-Dilemma guard makes the ROUNDED
    output exact — any entry whose scaled value lies within 1e-6 of a
    floor(x*1e4+0.5) rounding boundary is recomputed with the exact
    sequential-cumsum fold and re-divided. |BLAS - fold| for 64-dim
    unit-ish vectors is ~1e-15 in cosine units = ~1e-11 in scaled
    units, five orders below the guard, so every non-suspect entry
    provably rounds to the same grid integer as the fold; suspects
    (measured ~1e-5 of entries on real data) get the fold itself.
    Bit-parity with the DuckDB oracles is therefore preserved entry
    for entry — pinned by the kernel-equality pytests. ``block`` is
    accepted for call-site compatibility (BLAS blocks internally).

    The suspect recompute is CHUNKED to a fixed budget (VERDICT r10
    wrong #2): suspects are ~1e-5 of entries on real data, but a
    coarsely-QUANTIZED corpus (int8-style codes — exactly what
    int8_quant_error pipelines produce) can land most cosines ON the
    half-grid, making nearly every entry of a 4M-entry chunk suspect
    at once; an unchunked ``m[ri] * c_mat[ci]`` gather would then
    materialize a len(ri) x d temporary (~2 GB at dim 64) inside an
    executor-side kernel. Per-slice peak is bounded at
    ~_SUSPECT_CHUNK_ELEMS gathered doubles (~32 MB) regardless of
    suspect fraction — pinned by the quantized-vectors pytest
    (test_linalg: >=50% of cosines planted within 1e-6 of the
    half-grid, parity to the fold, slice cap asserted)."""
    dots = m @ c_mat.T
    cos = dots / (m_norms[:, None] * c_norms[None, :])
    scaled = cos * 1e4
    suspect = np.abs(scaled - np.floor(scaled) - 0.5) < 1e-6
    if suspect.any():
        ri, ci = np.nonzero(suspect)
        d = m.shape[1]
        step = max(1, _SUSPECT_CHUNK_ELEMS // max(1, d))
        for s in range(0, len(ri), step):
            rs, cs = ri[s:s + step], ci[s:s + step]
            exact = np.cumsum(m[rs] * c_mat[cs], axis=1)[:, -1]
            cos[rs, cs] = exact / (m_norms[rs] * c_norms[cs])
    return np.floor(cos * 1e4 + 0.5) / 1e4


def _two_level_plan(
    cent_mat: np.ndarray, cent_norms: np.ndarray
) -> tuple[int, list[np.ndarray]]:
    """Driver-side prep for two-level routing: the first
    ``ceil(sqrt(n_cells))`` fine centroids (in centroid-id order)
    serve as COARSE centroids, and every fine centroid is assigned to
    its nearest coarse branch (max rounded cosine, lowest coarse id on
    ties — the same assignment rule vectors get). Deterministic and
    CTE-replayable: both choices are windows over the centroid table.
    Returns (n_coarse, members) where ``members[b]`` is the SORTED
    array of fine-centroid indices in branch ``b``."""
    import math

    n_cells = cent_mat.shape[0]
    n_coarse = max(1, math.ceil(math.sqrt(n_cells)))
    cos = _rounded_cos_mat(
        cent_mat, cent_norms, cent_mat[:n_coarse], cent_norms[:n_coarse],
        block=max(1, n_coarse),
    )
    branch_of = np.argmax(cos, axis=1)  # first max = lowest coarse id
    members = [
        np.nonzero(branch_of == b)[0] for b in range(n_coarse)
    ]  # nonzero returns ascending indices = ascending centroid ids
    return n_coarse, members


#: Hard ceiling on the centroid matrix `_centroid_routing_plan` will
#: collect to the driver and broadcast: cells x dim x 8 B (float64)
#: must stay under this. With `ivf_cells_bounded` the cell count grows
#: LINEARLY with the corpus (n/512): ~4k cells at 2M vectors is ~2 MB,
#: but ~400k cells at 200M vectors is ~200 MB collected per plan build
#: — past this budget the flat collect-and-broadcast router is the
#: wrong architecture (the third routing level / graph router the
#: `ivf_cells_bounded` docstring names), and silently attempting it
#: risks a driver OOM that surfaces as an opaque JVM failure. Raising
#: with the named successors is the scale-honest behavior (VERDICT r11
#: #3); callers who genuinely want a sub-linear cell count can switch
#: the dial to the sqrt rule (``ceil(sqrt(n))`` cells) which stays under this
#: budget past 1e12 vectors at dim 64.
_ROUTING_PLAN_MAX_BYTES = 256 << 20


def destroy_routing_broadcast(df) -> bool:
    """Release :data:`session.ROOT_SCOPE`: what the plans built outside
    any open :func:`session.resource_scope` hold. The harness calls it
    after a query's final action (bench.py after each timed iteration,
    tools/oracle_check.py after each compare); ``df`` is not read. A
    caller holding other plans open builds them in a scope of their
    own, which this leaves alone. Returns True if anything was held."""
    return ROOT_SCOPE.release()


def _centroid_routing_plan(
    centroids: DataFrame,
    centroid_id_col: str,
    vec_col: str,
    two_level: bool = False,
    coarse_probe: int = 2,
):
    """Collect the centroid table driver-side, derive the (optional)
    two-level branch structure, and ship everything as ONE
    ``SparkContext.broadcast`` — shared by every routing pass that
    probes the same centroid geometry. :func:`ivf_topk` routes members
    AND probers against the same centroids; building the plan once
    halves its broadcast count (ADVICE r10: two broadcasts per call
    accumulated over long sessions). Returns ``(bc, n_cells, n_coarse,
    w_coarse, use_two_level)``; ``bc`` is the broadcast handle, held in
    the caller's :func:`session.resource_scope` (released with it, after
    the final action of every plan that routes through it).

    Refuses (ValueError) a centroid table whose collected matrix would
    exceed :data:`_ROUTING_PLAN_MAX_BYTES` — a clear error at plan
    build beats a driver OOM mid-collect; the message names the
    successors (third routing level / graph router, or the sqrt dial).
    The pre-check is one tiny agg over the centroid table (count +
    max vector length); the table is persisted across check + collect
    so its lineage — often a full k-means or groupBy — computes
    exactly once, as before the guard existed, in a scope of its own
    that closes before the plan returns."""
    with resource_scope():
        cent = hold(
            _with_double_vec(centroids, vec_col, "uv")
            .select(F.col(centroid_id_col).alias("centroid_id"), "uv")
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        stats = cent.agg(
            F.count(F.lit(1)).alias("n"), F.max(F.size("uv")).alias("dim")
        ).first()
        est_bytes = int(stats["n"] or 0) * int(stats["dim"] or 0) * 8
        if est_bytes > _ROUTING_PLAN_MAX_BYTES:
            raise ValueError(
                f"_centroid_routing_plan: centroid matrix would collect "
                f"{stats['n']} cells x dim {stats['dim']} x 8 B = "
                f"{est_bytes / (1 << 20):.0f} MB to the driver, over the "
                f"{_ROUTING_PLAN_MAX_BYTES >> 20} MB routing-plan budget. "
                "At this corpus size the collect-and-broadcast router "
                "needs a third routing level / graph router (see "
                "ivf_cells_bounded docstring), or switch the cell dial "
                "to the sqrt rule (ceil(sqrt(n)) cells), which keeps the "
                "centroid table sub-budget."
            )
        rows = sorted(cent.collect(), key=lambda r: r["centroid_id"])
    cent_ids = np.array([r["centroid_id"] for r in rows], dtype=np.int64)
    cent_mat = np.array([r["uv"] for r in rows], dtype=np.float64)
    cent_norms = np.sqrt(np.cumsum(cent_mat * cent_mat, axis=1)[:, -1])
    n_cells = max(1, len(cent_ids))
    use_two_level = bool(two_level) and n_cells > 2
    if use_two_level:
        n_coarse, branch_members = _two_level_plan(cent_mat, cent_norms)
        w_coarse = min(int(coarse_probe), n_coarse)
    else:
        n_coarse, branch_members, w_coarse = 0, None, 0
    bc = hold(centroids.sparkSession.sparkContext.broadcast(
        (cent_ids, cent_mat, cent_norms, branch_members)
    ))
    return bc, n_cells, n_coarse, w_coarse, use_two_level


def _nearest_cells_arrow(
    df: DataFrame,
    id_name: str,
    vec_name: str,
    centroids: DataFrame,
    centroid_id_col: str,
    vec_col: str,
    nprobe: int,
    keep_vec: bool = False,
    with_rank: bool = False,
    two_level: bool = False,
    coarse_probe: int = 2,
    plan=None,
) -> DataFrame:
    """Top-``nprobe`` nearest centroid cells per input row — the shared
    routing kernel behind the membership and probe phases of
    :func:`ivf_topk` and the self-kNN routing of
    :func:`ivf_self_topk_arrow`.

    The r1-r8 shape was ``crossJoin(broadcast(cent))`` + a
    ``row_number`` window: n x cells ROWS materialized and shuffled on
    the row id just to keep the best nprobe — at the sqrt cell dial
    and 1000x data that is ~7e8 window rows for the bitext en-side
    alone (the O(n^1.5) routing term paid in shuffle rows AND HOF
    dots). Here routing is one ``mapInPandas`` pass: centroids ship
    once per executor via ``SparkContext.broadcast`` (closure capture
    would re-pickle the matrix into every stage's task binary —
    VERDICT r9 wrong #2; the handle is held in the caller's
    :func:`session.resource_scope`, the knn_self_topk_arrow
    discipline), dots come from the blocked
    left-fold-exact cosine kernel (_rounded_cos_mat: BLAS dots + the
    boundary guard — bit-equal to the sequential left fold), and only
    the winning (row, cell) pairs leave the kernel — zero shuffle,
    zero n x cells relation.

    ``two_level=True`` routes HIERARCHICALLY (VERDICT r9 #1): each row
    first ranks the ``ceil(sqrt(n_cells))`` coarse centroids (the
    first fine centroids by id), keeps its top ``coarse_probe``
    branches, and ranks only those branches' fine centroids — per-row
    routing dots drop from ``n_cells`` to ``~sqrt(n_cells) *
    (1 + coarse_probe)`` (2M vectors at the bounded-population dial:
    187 vs 3907). Approximate BY DESIGN — a fine cell whose branch
    was not probed is invisible to that row, exactly as IVF itself
    misses neighbors in unprobed cells — and fully deterministic /
    oracle-replayable: branch assignment and both rankings are the
    same (rounded cos DESC, id ASC) windows as flat routing (the
    SPANN/IMI shape: bounded posting lists + a small in-memory coarse
    router).

    Bit-parity of the FLAT path with the window it replaces: cosines
    are rounded floor(x*1e4+0.5)/1e4 of sequential left-fold dots
    (= cosine_cols; the aggregate's 0.0 seed is IEEE-exact), and the
    (cos DESC, centroid_id ASC) order falls out of sorting the
    centroid columns by id once and taking ``argmax`` (first max =
    lowest id) for nprobe=1 / STABLE argsort on -cos for nprobe>1.
    ``with_rank`` appends the 1-based probe rank (rank 1 = the
    membership cell for self-kNN callers). Output ids keep the
    caller's column dtypes.

    Precondition (ADVICE r9): zero-norm vectors have undefined cosine
    (NaN); NaN sorts LAST under the stable argsort on -cos here but
    FIRST under a Spark/DuckDB ``cos DESC`` window, so degenerate
    vectors would diverge from the window shape this kernel replaces.
    Exclude them upstream (the fixture and every registry caller have
    none — embeddings are unit-ish by construction)."""
    cid_type = dict(centroids.dtypes)[centroid_id_col]
    id_type = dict(df.dtypes)[id_name]
    if plan is None:
        plan = _centroid_routing_plan(
            centroids, centroid_id_col, vec_col, two_level, coarse_probe
        )
    bc, n_cells, n_coarse, w_coarse, use_two_level = plan
    npb = int(nprobe)
    # ~32 MB working set (the cosine matrix is rows x width).
    # Width differs by path: flat = n_cells; two-level = n_coarse plus
    # the per-signature candidate axis (~coarse_probe * cells/coarse) —
    # budgeting the two-level path on the FLAT width would shrink
    # chunks ~cells/(3*sqrt(cells))-fold, fragmenting the branch-
    # signature groups into near-single-row matrices (per-group Python
    # overhead swamps the dots at high cell counts).
    if use_two_level:
        eff_width = n_coarse + int(coarse_probe) * max(
            1, -(-n_cells // n_coarse)
        )
    else:
        eff_width = n_cells
    row_chunk = max(1, (4 << 20) // eff_width)
    cent_block = max(1, min(n_cells, (4 << 20) // row_chunk))

    fields = [f"{id_name} long", "centroid_id long"]
    if with_rank:
        fields.append("probe_rank int")
    if keep_vec:
        fields.append(f"{vec_name} array<double>")
    out_schema = ", ".join(fields)

    def route(batches):
        cent_ids, cent_mat, cent_norms, members = bc.value

        def emit(ids_chunk, vs_chunk, sel):
            # sel: (rows x <=npb) fine-centroid indices, -1 = padding
            valid = sel >= 0
            ridx = np.repeat(np.arange(sel.shape[0]), sel.shape[1])[
                valid.ravel()
            ]
            cidx = sel.ravel()[valid.ravel()]
            data = {
                id_name: ids_chunk[ridx],
                "centroid_id": cent_ids[cidx],
            }
            if with_rank:
                ranks = np.broadcast_to(
                    np.arange(1, sel.shape[1] + 1, dtype=np.int32),
                    sel.shape,
                ).ravel()[valid.ravel()]
                data["probe_rank"] = ranks
            if keep_vec:
                data[vec_name] = vs_chunk[ridx]
            return pd.DataFrame(data)

        for pdf in batches:
            if not len(pdf):
                continue
            ids_all = pdf[id_name].to_numpy(dtype=np.int64)
            vs_all = pdf[vec_name].to_numpy()
            for s in range(0, len(ids_all), row_chunk):
                e = min(s + row_chunk, len(ids_all))
                m = np.vstack(vs_all[s:e])
                nn = np.sqrt(np.cumsum(m * m, axis=1)[:, -1])
                if not use_two_level:
                    cos = _rounded_cos_mat(
                        m, nn, cent_mat, cent_norms, cent_block
                    )
                    if npb == 1:
                        sel = np.argmax(cos, axis=1)[:, None]
                    else:
                        sel = np.argsort(-cos, axis=1, kind="stable")[:, :npb]
                    yield emit(ids_all[s:e], vs_all[s:e], sel)
                    continue
                # two-level: rank coarse branches, then only their fine
                # members. Rows sharing a branch SIGNATURE batch into
                # one fine-dot matrix (vectorized; at most
                # C(n_coarse, w) signatures per chunk, in practice a
                # handful — nearby vectors probe the same branches).
                cos_c = _rounded_cos_mat(
                    m, nn,
                    cent_mat[:len(members)], cent_norms[:len(members)],
                    block=max(1, len(members)),
                )
                sig = np.argsort(-cos_c, axis=1, kind="stable")[:, :w_coarse]
                sig = np.sort(sig, axis=1)  # branch SET is order-free
                uniq, inv = np.unique(sig, axis=0, return_inverse=True)
                inv = inv.ravel()  # numpy 2.1 returns (rows, 1) with axis=0
                sel = np.full((e - s, npb), -1, dtype=np.int64)
                for g in range(len(uniq)):
                    rows_all = np.nonzero(inv == g)[0]
                    cand = np.concatenate([members[b] for b in uniq[g]])
                    cand.sort()  # ascending index = ascending cid
                    # a SKEWED branch can hold a large share of the
                    # fine cells — slice the group's rows so the
                    # rows x |cand| buffer stays ~32 MB at any skew
                    g_rows = max(1, (4 << 20) // max(1, len(cand)))
                    for gs in range(0, len(rows_all), g_rows):
                        rows_g = rows_all[gs:gs + g_rows]
                        cos_g = _rounded_cos_mat(
                            m[rows_g], nn[rows_g],
                            cent_mat[cand], cent_norms[cand],
                            block=max(1, len(cand)),
                        )
                        take = min(npb, len(cand))
                        loc = np.argsort(
                            -cos_g, axis=1, kind="stable"
                        )[:, :take]
                        sel[rows_g, :take] = cand[loc]
                yield emit(ids_all[s:e], vs_all[s:e], sel)

    return df.mapInPandas(route, out_schema).withColumn(
        "centroid_id", F.col("centroid_id").cast(cid_type)
    ).withColumn(id_name, F.col(id_name).cast(id_type))


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "centroid_id",
    k: int = 5,
    nprobe: int = 2,
    two_level: bool = False,
    routing_plan=None,
) -> DataFrame:
    """IVF search: probe the ``nprobe`` nearest cells per query and rank
    only vectors assigned to those cells. Approximate (a true neighbor
    in an unprobed cell is missed) but touches nprobe/|cells| of the
    corpus. Output: (query_id, neighbor_id, cos_sim, rank).

    Candidate scoring is IN-KERNEL (round 9): members (one routing
    pass, nprobe=1: each vector's nearest cell, centroid id breaking
    ties) and probers (nprobe cells per query) are unioned into ONE
    centroid-keyed shuffle, and a ``groupBy(cell).applyInPandas``
    kernel computes the blocked left-fold dots per cell — the shuffle
    carries each vector nprobe(+1) times and only
    (query_id, neighbor_id, cos_sim) rows leave the kernel. The
    r1-r9.0 shape scored candidates through a JOIN that materialized
    BOTH vectors on every (query, member) candidate row: for
    corpus-fraction query sets at the sqrt cell dial that relation is
    ~|q| * nprobe * sqrt(n) rows x ~1 KB — the round-9 full-method
    1000x run measured it as a >60 GB sort spill ENOSPC on
    bitext_mining_ivf's warm-up (~1.4e9 candidate rows), the same
    pair-materialization class the r9 SemDeDup in-kernel fix removed.
    Per-cell top-k contains the global top-k (membership cells are
    disjoint, so a neighbor appears in at most one probed cell per
    query); one global window re-rank over <= nprobe*k rows per query
    finishes. Bit-parity with the join+cosine_cols shape it replaces:
    same rounded left-fold cosines (_rounded_cos_mat — BLAS + boundary
    guard, bit-equal to the fold), same
    floor(x*1e4+0.5)/1e4 rounding, same (cos DESC, neighbor_id)
    order — the construction ivf_self_topk_arrow already pins against
    the DuckDB oracle. Zero-norm vectors are a precondition violation:
    their cosine is NaN, which the in-kernel lexsort on -cos orders
    LAST while the join+window shape this replaces (and a DuckDB
    ``cos DESC`` window) orders NaN FIRST — exclude degenerate vectors
    upstream (ADVICE r9; the fixture and every registry caller have
    none). ``two_level=True`` applies the hierarchical router to both
    membership and probe routing (members and probers MUST share the
    routing geometry or per-cell candidate sets lose their containment
    property) — the serving-side knob for the bounded-population dial
    (:func:`ivf_cells_bounded`). ``routing_plan`` accepts a prebuilt
    :func:`_centroid_routing_plan` so repeated searches against the
    SAME centroids (a recall sweep, a serving loop) collect + broadcast
    them once instead of per call; it must have been built from these
    centroids with this ``two_level``, and its broadcast lives as long
    as the scope it was built in."""
    q = _with_double_vec(queries, vec_col, "qv").select(
        F.col(id_col).alias("query_id"), "qv"
    )
    c = _with_double_vec(corpus, vec_col, "cv").select(
        F.col(id_col).alias("neighbor_id"), "cv"
    )
    # ONE centroid broadcast for both routing passes (ADVICE r10),
    # shared across calls when the caller prebuilt it
    plan = routing_plan or _centroid_routing_plan(
        centroids, centroid_id_col, vec_col, two_level
    )
    members = _nearest_cells_arrow(
        c, "neighbor_id", "cv", centroids, centroid_id_col, vec_col,
        nprobe=1, keep_vec=True, two_level=two_level, plan=plan,
    ).select(
        F.col("centroid_id").cast("long").alias("cell"),
        F.col("neighbor_id").cast("long").alias("rid"),
        F.col("cv").alias("rv"),
        F.lit(False).alias("is_q"),
    )
    probes = _nearest_cells_arrow(
        q, "query_id", "qv", centroids, centroid_id_col, vec_col,
        nprobe=nprobe, keep_vec=True, two_level=two_level, plan=plan,
    ).select(
        F.col("centroid_id").cast("long").alias("cell"),
        F.col("query_id").cast("long").alias("rid"),
        F.col("qv").alias("rv"),
        F.lit(True).alias("is_q"),
    )
    per_cell = (
        members.unionByName(probes)
        .groupBy("cell")
        .applyInPandas(
            _make_cell_topk_qc(int(k)),
            "query_id long, neighbor_id long, cos_sim double",
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    q_id_type = dict(queries.dtypes)[id_col]
    c_id_type = dict(corpus.dtypes)[id_col]
    return (
        per_cell.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .withColumn("query_id", F.col("query_id").cast(q_id_type))
        .withColumn("neighbor_id", F.col("neighbor_id").cast(c_id_type))
    )


def _make_cell_topk_qc(kk: int):
    """Per-cell top-k kernel for :func:`ivf_topk` with distinct
    query/member roles (``is_q``): blocked left-fold dots between the
    cell's probers and members, ~32 MB working set at any cell size or
    skew (two-axis adaptive blocking — the ivf_self_topk_arrow
    discipline; block boundaries are bit-invisible because the add
    order is per-element)."""

    def cell_topk(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {
                "query_id": pd.Series([], dtype="int64"),
                "neighbor_id": pd.Series([], dtype="int64"),
                "cos_sim": pd.Series([], dtype="float64"),
            }
        )
        if not len(pdf):
            return empty
        mem = pdf[~pdf["is_q"]]
        qs = pdf[pdf["is_q"]]
        if not len(mem) or not len(qs):
            return empty
        oq, on, oc, _ = _chunk_topk_excluding_self(
            qs["rid"].to_numpy(dtype=np.int64),
            np.vstack(qs["rv"].to_numpy()),
            mem["rid"].to_numpy(dtype=np.int64),
            np.vstack(mem["rv"].to_numpy()),
            kk,
        )
        if not len(oq):
            return empty
        return pd.DataFrame(
            {"query_id": oq, "neighbor_id": on, "cos_sim": oc}
        )

    return cell_topk


def kmeans_pp_init(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
) -> list[list[float]]:
    """Greedy k-means++ seeding (deterministic farthest-first
    traversal): seed 0 is the vector of the smallest id; each later
    seed is the point with the LOWEST best cosine to the seeds chosen
    so far (= farthest in angular distance), ids breaking ties. The
    classic D²-sampling draw is replaced by the argmax — the standard
    derandomization, and what makes the result reproducible across
    runs and partitionings.

    Cost: k passes over the corpus, each a pandas-UDF best-cosine scan
    + a global top-1 (a max-reduce, not a sort — Spark's takeOrdered).
    At 100 TB you'd amortize passes by oversampling candidates per
    round (k-means|| style); the per-round reduce shape is already
    cluster-friendly: no shuffle of the corpus itself, only of one
    (score, id) pair per partition.
    """
    c = _with_double_vec(corpus, vec_col, "cv").select(
        F.col(id_col).alias("vid"), "cv"
    )
    first = c.orderBy("vid").limit(1).collect()[0]
    seeds = [list(first.cv)]

    for _ in range(1, k):
        best_cos = _best_cosine_udf(seeds)
        nxt = (
            c.select("vid", "cv", best_cos("cv").alias("bc"))
            .orderBy(F.col("bc").asc(), F.col("vid").asc())
            .limit(1)
            .collect()[0]
        )
        seeds.append(list(nxt.cv))
    return seeds


def _best_cosine_udf(cents: list[list[float]]):
    """Arrow-vectorized max-cosine-to-any-centroid (numpy closure, not
    a literal expression tree — avoids per-round codegen recompiles)."""
    from pyspark.sql.functions import pandas_udf

    cm = np.array(cents, dtype=np.float64)
    cm_n = cm / np.maximum(np.linalg.norm(cm, axis=1, keepdims=True), 1e-300)

    @pandas_udf("double")
    def best(vecs: pd.Series) -> pd.Series:
        m = np.vstack(vecs.to_numpy())
        m_n = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-300)
        return pd.Series((m_n @ cm_n.T).max(axis=1))

    return best


def centroid_table(
    corpus: DataFrame,
    assignments: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Materialize cluster centroids (mean vector per cluster) from a
    (id, cluster) assignment table — the bridge from the k-means
    trainer to :func:`ivf_topk`, which takes any centroid DataFrame.
    One join + one (cluster, dim) aggregation: the shuffle carries
    (int, int, double) triples, k x dim rows out."""
    c = _with_double_vec(corpus, vec_col, "cv").select(
        F.col(id_col).alias("vid"), "cv"
    )
    j = c.join(
        assignments.select(F.col(id_col).alias("vid"), "cluster"), "vid"
    )
    return (
        j.select("cluster", F.posexplode("cv").alias("pos", "val"))
        .groupBy("cluster", "pos")
        .agg(F.avg("val").alias("m"))
        .groupBy("cluster")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
        .select(
            F.col("cluster").alias("centroid_id"),
            F.expr("transform(pm, x -> x.m)").alias("embedding"),
        )
    )


def kmeans_cosine(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    iters: int = 5,
    init: str = "first-k",
    return_model: bool = False,
    keep_vec: bool = False,
) -> DataFrame:
    """Spherical k-means (Lloyd's iterations, cosine assignment) —
    the trainer for IVF centroids (:func:`ivf_topk` takes any centroid
    DataFrame; this produces data-adaptive cells instead of an
    arbitrary subset).

    Deterministic by construction: init = the vectors of the ``k``
    smallest ids (``init="first-k"``) or greedy k-means++ farthest-
    first seeds (``init="kmeans++"``, :func:`kmeans_pp_init`), a FIXED
    number of iterations, cosine ties broken by cluster id. Each iteration: assignment is a broadcast argmax over
    ``k`` centroids (one pass over the corpus, no shuffle for the
    join); the update re-estimates centroids with one posexplode +
    (cluster, dim) aggregation — a single shuffle of (int, int,
    double) rows. Centroids (k x dim doubles) are collected to the
    driver between rounds — the textbook small-model/large-data
    iteration; lineage stays flat because each round starts from
    literal centroid arrays, not the previous round's plan.

    Output: (vec_id, cluster) final assignments; with
    ``return_model=True``, the tuple (assignments, centroids) where
    ``centroids`` is the k x dim list the FINAL assignment was computed
    against (the pre-update table — what a serving layer would ship).
    ``keep_vec=True`` keeps the double-cast vector column ``cv`` on
    the assignments (r13: semantic_dedup_trained re-joined the corpus
    by id to get vectors the assignment subtree already carried).

    r13 (guide §1.2/§2.4 — the trainer is job-overhead-bound at bench
    scale, 5 sequential driver jobs): the double-vec corpus is
    persisted once (each iteration re-read the parquet and re-ran the
    vector cast before), and each update collects the (cluster, pos,
    m) rows straight out of the FIRST aggregation — the old second
    groupBy(cluster)+collect_list+array_sort pass added one exchange
    and one stage per iteration only to assemble arrays the driver
    can assemble itself from k x dim tiny rows. The averaged values
    come from the identical F.avg aggregate, so centroids (and the
    oracle's Lloyd replay) are bit-identical.
    """
    from pyspark.sql.functions import pandas_udf

    c = hold(
        _with_double_vec(corpus, vec_col, "cv")
        .select(F.col(id_col).alias("vid"), "cv")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    if init == "kmeans++":
        centroids = kmeans_pp_init(corpus, id_col, vec_col, k)
    else:
        rows = c.orderBy("vid").limit(k).collect()
        centroids = [list(r.cv) for r in rows]
    dim = len(centroids[0]) if centroids else 0

    def assign_udf(cents: list[list[float]]):
        # Arrow-vectorized argmax: a literal-centroid expression tree
        # would trigger a fresh multi-second codegen compile EVERY
        # iteration (the literals change); the numpy closure does not.
        cm = np.array(cents, dtype=np.float64)
        cm_n = cm / np.maximum(np.linalg.norm(cm, axis=1, keepdims=True), 1e-300)

        @pandas_udf("int")
        def assign(vecs: pd.Series) -> pd.Series:
            m = np.vstack(vecs.to_numpy())
            m_n = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-300)
            # argmax returns the FIRST max -> ties break to lowest id
            return pd.Series((m_n @ cm_n.T).argmax(axis=1).astype(np.int32))

        return assign

    assigned = None
    used = centroids
    for _ in range(iters):
        used = centroids
        assigned = c.select("vid", "cv", assign_udf(centroids)("cv").alias("cluster"))
        new_rows = (
            assigned.select("cluster", F.posexplode("cv").alias("pos", "val"))
            .groupBy("cluster", "pos")
            .agg(F.avg("val").alias("m"))
            .collect()
        )
        updated: dict[int, list] = {}
        for r in new_rows:
            updated.setdefault(r.cluster, [None] * dim)[r.pos] = r.m
        # empty clusters keep their previous centroid
        centroids = [updated.get(j, centroids[j]) for j in range(k)]

    if keep_vec:
        out = assigned.select(F.col("vid").alias(id_col), "cv", "cluster")
    else:
        out = assigned.select(F.col("vid").alias(id_col), "cluster")
    if return_model:
        return out, [list(u) for u in used]
    return out


# ---------------------------------------------------------------------------
# Product quantization (IVF-PQ's PQ half): the memory-compression path
# that makes billion-vector ANN tractable — 64 float64 dims (512 B)
# become m single-byte codes (8 B here), and approximate scoring reads
# ONLY codes + a per-query lookup table, never the vectors.


def train_pq_codebooks(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    k: int = 16,
    sample_n: int = 2048,
    iters: int = 10,
    seed: int = 13,
):
    """Train PQ codebooks: split the (unit-normalized) vector space
    into ``m`` equal subspaces and run seeded Lloyd k-means with ``k``
    centroids in each.

    Driver-side on a BOUNDED deterministic sample (first ``sample_n``
    ids): O(sample_n * dim) memory — the standard PQ recipe (codebooks
    are trained on a sample, applied to everything; at 100 TB the
    sample is still thousands of rows). Deterministic: seeded init,
    fixed iteration count, ties broken by argmin index.

    Returns a numpy array of shape (m, k, dim//m).
    """
    rows = (
        _with_double_vec(corpus, vec_col, "cv")
        .select(F.col(id_col).alias("vid"), "cv")
        .orderBy("vid")
        .limit(sample_n)
        .collect()
    )
    x = np.array([r.cv for r in rows], dtype=np.float64)
    x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    n, dim = x.shape
    assert dim % m == 0, f"dim {dim} not divisible by m {m}"
    dsub = dim // m
    rng = np.random.default_rng(seed)
    books = np.empty((m, k, dsub))
    for j in range(m):
        sub = x[:, j * dsub : (j + 1) * dsub]
        cent = sub[rng.choice(n, size=k, replace=False)].copy()
        for _ in range(iters):
            d2 = ((sub[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
            code = d2.argmin(axis=1)
            for c in range(k):
                pts = sub[code == c]
                if len(pts):  # empty clusters keep their centroid
                    cent[c] = pts.mean(axis=0)
        books[j] = cent
    return books


def pq_encode(
    corpus: DataFrame,
    codebooks,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode every vector as ``m`` small codes (nearest sub-centroid
    per subspace, on the unit-normalized vector). One Arrow-batched
    pandas_udf, vectorized argmin over the whole batch; output rows
    are (id, array<int>) — the 64x-compressed index that replaces the
    vector column in the scoring scan.
    """
    from pyspark.sql.functions import pandas_udf

    books = np.asarray(codebooks)
    m, k, dsub = books.shape

    @pandas_udf("array<int>")
    def encode(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        x = np.vstack(vecs.to_numpy()).astype(np.float64)
        x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
        codes = np.empty((len(x), m), dtype=np.int32)
        for j in range(m):
            sub = x[:, j * dsub : (j + 1) * dsub]
            # ||s - c||^2 = |s|^2 - 2 s.c + |c|^2; argmin needs only
            # the cross and centroid terms
            d = -2.0 * (sub @ books[j].T) + (books[j] ** 2).sum(axis=1)
            codes[:, j] = d.argmin(axis=1)
        return pd.Series(list(codes))

    return _with_double_vec(corpus, vec_col, "cv").select(
        F.col(id_col).alias("vid"), encode("cv").alias("codes")
    )


def pq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    codebooks,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    shortlist: int = 50,
) -> DataFrame:
    """Approximate cosine top-k via PQ asymmetric distance computation
    (ADC) + exact re-rank — the production serving shape:

    1. Per query, a (m x k) lookup table of sub-dot-products against
       every sub-centroid (tiny, broadcast in the UDF closure).
    2. One pass over the CODES (8 B/vector, not 512 B): approximate
       cosine = sum of m table lookups, fully vectorized per Arrow
       batch. This is the only corpus-wide scan and it reads no
       vectors.
    3. The top-``shortlist`` per query by approximate score fetch
       their true vectors (hash join on id) and are re-ranked by
       exact rounded cosine; top-``k`` of that is emitted.

    Recall is governed by ``shortlist`` (the IVF-PQ dial): quantization
    error can reorder near-ties, the re-rank fixes everything inside
    the shortlist. Output: (query_id, neighbor_id, cos_r, rank) like
    :func:`brute_force_topk`, so recall joins line up.

    ``queries`` must be small (collected to build LUTs).
    """
    books = np.asarray(codebooks)
    m, kk, dsub = books.shape
    qrows = (
        _with_double_vec(queries, vec_col, "qv")
        .select(F.col(id_col).alias("query_id"), "qv")
        .collect()
    )
    qids = np.array([r.query_id for r in qrows], dtype=np.int64)
    qm = np.array([r.qv for r in qrows], dtype=np.float64)
    qm /= np.maximum(np.linalg.norm(qm, axis=1, keepdims=True), 1e-12)
    # LUT[q, j, c] = dot(q_subj, centroid_{j,c}): nq x m x k
    lut = np.einsum("qjd,jcd->qjc", qm.reshape(len(qm), m, dsub), books)

    def score(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            codes = np.vstack(pdf["codes"].to_numpy())  # batch x m
            # approx[b, q] = sum_j LUT[q, j, codes[b, j]]
            approx = lut[:, np.arange(m)[None, :], codes].sum(axis=2).T
            nb, nq = approx.shape
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(qids, nb),
                    "neighbor_id": np.tile(pdf["vid"].to_numpy(), nq),
                    "approx": approx.T.ravel(),
                }
            )

    codes_df = pq_encode(corpus, codebooks, id_col, vec_col)
    scored = codes_df.mapInPandas(
        score, "query_id long, neighbor_id long, approx double"
    ).filter(F.col("query_id") != F.col("neighbor_id"))
    w_short = Window.partitionBy("query_id").orderBy(
        F.col("approx").desc(), F.col("neighbor_id")
    )
    short = (
        scored.withColumn("r", F.row_number().over(w_short))
        .filter(F.col("r") <= shortlist)
        .select("query_id", "neighbor_id")
    )
    c = _with_double_vec(corpus, vec_col, "cv").select(
        F.col(id_col).alias("neighbor_id"), "cv"
    )
    q = _with_double_vec(queries, vec_col, "qv").select(
        F.col(id_col).alias("query_id"), "qv"
    )
    rer = (
        short.join(c, "neighbor_id")
        .join(F.broadcast(q), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            cosine_cols(F.col("qv"), F.col("cv")).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return rer.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def int8_quantize_stats(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Symmetric per-vector int8 quantization audit — the storage
    codec that shrinks an embedding store 4x (float32) / 8x (float64)
    before ANN serving: ``scale = max|v| / 127``, ``code_i =
    floor(v_i/scale + 0.5)`` in [-127, 127], and the numbers a
    deployment decides with: the reconstruction MSE and max abs error
    per vector.

    All JVM higher-order functions (no Python), and every compared
    output is fixed-point BIGINT with the per-term-round-then-
    integer-sum recipe, so dim-order and engine ulps can't move
    hashes. Map-only — no shuffle, no state; at 100 TB this is a
    pure scan (the Arrow-kernel variant is the same closure shape as
    cosine_arrow_udf if the HOF interpreter ever shows up in a
    profile).

    Output: (vec_id, scale_x1e9, max_err_x1e9, mse_x1e12)."""
    c = _with_double_vec(corpus, vec_col, "cv").select(
        F.col(id_col).alias("vid"), "cv"
    )
    mx = F.array_max(F.expr("transform(cv, x -> abs(x))"))
    scale = F.greatest(mx, F.lit(1e-30)) / F.lit(127.0)
    q = c.withColumn("scale", scale)
    # per-dim: code = floor(x/scale + 0.5); err = x - code*scale
    err = (
        "transform(cv, x -> x - floor(x / scale + 0.5D) * scale)"
    )
    return q.select(
        F.col("vid").alias(id_col),
        F.floor(F.col("scale") * F.lit(1e9) + F.lit(0.5))
        .cast("bigint")
        .alias("scale_x1e9"),
        F.array_max(
            F.expr(
                f"transform({err}, e -> CAST(floor(abs(e) * 1e9 + 0.5D) AS BIGINT))"
            )
        ).alias("max_err_x1e9"),
        F.expr(
            f"aggregate(transform({err}, "
            "e -> CAST(floor(e * e * 1e12 + 0.5D) AS BIGINT)), "
            "CAST(0 AS BIGINT), (acc, t) -> acc + t)"
        ).alias("mse_sum_x1e12"),
    )


def semantic_dedup_trained(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    iters: int = 5,
    threshold: float = 0.45,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication by clustering embeddings, then dropping within each
    cluster any item whose cosine to a LOWER-ranked clustermate meets
    the threshold — rank = cosine-to-centroid ascending, so the kept
    representative of every duplicate group is the one FARTHEST from
    its centroid, the paper's keep-low-centroid-similarity rule.

    This is the scale story for embedding dedup when all-pairs (even
    LSH-bucketed) is too much: the paper runs k = 110 000 clusters on
    LAION so each cluster is a few thousand items and the quadratic
    term is bounded per cluster. Shape here is exactly that contract:
    one k-means training pass (broadcast-argmax assignment, one
    (cluster, dim) shuffle per iteration — the kmeans_assign plan),
    then ONE cluster-keyed ``applyInPandas`` kernel — never a
    corpus-wide pair explosion, and (r9) never a MATERIALIZED pair
    relation either: the r8 self-join shape shipped O(pop^2) rows each
    carrying two dim-sized vectors through Arrow (~1 KB/pair — the
    1000x run spent its 683 s mostly serializing that relation); the
    kernel computes the same rounded pairwise cosines in-task from the
    cluster's pop x dim matrix via the shared bit-exact cosine kernel
    (_rounded_cos_mat), blocked to a ~32 MB budget, and emits one
    (vid, dropped) row per member.

    Determinism for the cross-engine oracle: ranks order by the
    ROUNDED (4 dp) centroid cosine with id tie-break, the drop rule is
    a plain EXISTS over (same cluster, earlier rank, rounded pairwise
    cosine >= threshold) — no greedy chain, so DuckDB replays it as
    one window + one join over the Lloyd-replay CTE chain
    (plans/queries_llm._kmeans_asg_ctes). The fixture's synthetic
    embeddings carry their similarity mass near ~0.5 (real text
    embeddings near-dup at ~0.95, the paper's eps), so the acceptance
    query thresholds at 0.45; the operator takes eps as a parameter.

    Output: (id, cluster, c2c_r, dropped) for EVERY input row —
    dropped is 0/1 so the result doubles as the keep-list filter.
    """
    assigned, cents = kmeans_cosine(
        corpus, id_col, vec_col, k, iters, return_model=True, keep_vec=True
    )
    # r13 (guide §2.4): the final pass is ONE cluster-keyed exchange.
    # The old shape re-joined the corpus by id (to re-attach vectors
    # the assignment subtree already carried) and broadcast-joined a
    # centroid table only to compute the centroid cosine in the JVM's
    # interpreted fold; both joins are gone — ``keep_vec=True`` keeps
    # ``cv`` on the assignments and the kernel computes c2c_r itself
    # from the driver-side centroid matrix via _rounded_cos_mat
    # (bit-equal to cosine_cols by the boundary-guard contract, pinned
    # by the kernel-parity pytests), so ranks, values and the oracle
    # hash are unchanged.
    m = assigned.select(F.col(id_col).alias("vid"), "cv", "cluster")
    cent_mat = np.asarray([list(u) for u in cents], dtype=np.float64)
    cent_norms = np.sqrt(np.cumsum(cent_mat * cent_mat, axis=1)[:, -1])
    thr = float(threshold)

    def cluster_drops(pdf: pd.DataFrame) -> pd.DataFrame:
        # per-cluster EXISTS-earlier-dup, in-kernel: the r8 shape was a
        # rka < rkb self-JOIN whose pair relation carries TWO dim-sized
        # vectors per row — O(pop^2) rows x ~1 KB of Arrow traffic per
        # cluster (the 1000x run measured 683 s mostly serializing it);
        # here the same pairwise rounded cosines come from _rounded_cos_mat
        # on the cluster's pop x dim matrix (bit-identical left-fold
        # dots, same floor rounding as cosine_arrow_udf), blocked to
        # the ~32 MB budget, and only (vid, dropped) rows leave the
        # kernel. Members arrive UNSORTED; rank order is recomputed
        # from (c2c_r, vid) — the same key the window used.
        cl = int(pdf["cluster"].iloc[0])
        mat_u = np.vstack(pdf["cv"].to_numpy())
        norms_u = np.sqrt(np.cumsum(mat_u * mat_u, axis=1)[:, -1])
        c2c = _rounded_cos_mat(
            mat_u, norms_u, cent_mat[cl : cl + 1], cent_norms[cl : cl + 1]
        ).ravel()
        order = np.lexsort((pdf["vid"].to_numpy(dtype=np.int64), c2c))
        p = pdf.iloc[order]
        mat = mat_u[order]
        norms = norms_u[order]
        c2c = c2c[order]
        pop = len(p)
        blk = max(1, (4 << 20) // max(1, pop))
        dropped = np.zeros(pop, dtype=np.int32)
        for s in range(0, pop, blk):
            e = min(s + blk, pop)
            # BLAS dots + boundary-guard rounding (_rounded_cos_mat):
            # bit-equal to the left fold, ~20x less kernel time (r10)
            cos = _rounded_cos_mat(mat[s:e], norms[s:e], mat, norms)
            for i in range(s, e):
                if i and (cos[i - s, :i] >= thr).any():
                    dropped[i] = 1
        return pd.DataFrame(
            {
                "vid": p["vid"].to_numpy(dtype=np.int64),
                "cluster": p["cluster"].to_numpy(dtype=np.int32),
                "c2c_r": c2c,
                "dropped": dropped,
            }
        )

    return (
        m.groupBy("cluster")
        .applyInPandas(
            cluster_drops,
            "vid long, cluster int, c2c_r double, dropped int",
        )
        .select(
            F.col("vid").alias(id_col), "cluster", "c2c_r", "dropped"
        )
    )
