"""Approximate nearest neighbors over an ``array<float>`` embedding column.

Two paths, mirroring a production vector pipeline:

- ``cosine_topk`` / ``near_dup_pairs`` — exact brute force: the
  small-scale baselines and the recall oracle. All-pairs by design;
  never the scale path. Each cosine is an in-row
  ``F.aggregate(F.zip_with(a, b, (x, y) -> x*y))`` fold over the two
  ARRAY-typed vectors — one row per pair, the same left-to-right op
  sequence DuckDB's list_reduce replays.
- ``lsh_buckets`` + ``bucketed_topk`` / ``ivf_topk`` /
  ``bucketed_near_dups`` — the scale path: assign each vector to a
  hyperplane-sign bucket (deterministic pseudo-planes,
  w(i, j) = ((i·(7j+3)) mod 11) − 5 over 0-based dim i) or to its
  nearest IVF centroid, co-partition by bucket, rank EXACT cosine within
  the bucket only. Candidates shrink from O(N) to O(N/buckets); the
  shuffle key is the bucket, so a search is one partition-local pass —
  no global top-k.

Kernel shape of the scale path: every score is a float64 matmul over an
Arrow batch. Bucket projections and centroid distances are one matmul
per batch in ``mapInPandas`` (zero shuffle; the C×D centroid matrix is
collected once and closed over). Within a bucket, VECTORS shuffle by
bucket (N rows, each carrying one array) and the Q×C cosine block is one
matmul in ``applyInPandas`` — the candidate-pair frame never exists.
Spark runs higher-order-function lambdas interpreted, per element, so a
zip_with fold costs ~D interpreted steps per pair where the matmul costs
one BLAS call per block (BENCH.md, "ANN at real embedding width").

Hot buckets (a dense embedding cluster collapsing into one bucket) are
the quadratic hazard at 100 TB: ``bucket_cap`` rank-limits the CANDIDATE
side of each bucket deterministically (by id) so one degenerate bucket
cannot go O(b²); query vectors are never dropped, they just rank against
the capped candidate set. The cap itself is the salted two-level
rank-limited cap shared with the MinHash path (dedup.cap_buckets) — no
single task sorts a whole degenerate bucket.

Entry points persist fan-out intermediates and attach them to the result
via cache.track; call ``cache.release(result)`` after materializing to
unpersist (long-lived sessions would otherwise accumulate cached blocks).

Semantics pinned by the driver's DuckDB oracles (__spark_entry__:
ann_lsh_buckets / ann_lsh_topk / ann_ivf_topk / cosine_topk_bruteforce /
embedding_near_dup_pairs / embedding_near_dup_bucketed /
ann_recall_at_k). Ranking uses the ROUNDED cosine (sign-aware HALF_UP,
like ``F.round``) with an id tiebreak so engines agree on neighbor sets;
matmul summation order differs from the SQL sums only in the last ulps,
which the rounding absorbs. A projection or threshold within one ulp of
its cut could still fall the other way — measure-zero on real data.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window
from pyspark.storagelevel import StorageLevel

from .cache import track as _track
from .dedup import cap_buckets

DEFAULT_PLANES = 8
DEFAULT_BUCKET_CAP = 64
DEFAULT_QUERY_SALTS = 8


def _valid(emb: DataFrame, vec_col: str) -> DataFrame:
    """Drop null/empty embeddings (size(null) = -1), vectors holding a
    NULL element, AND all-zero vectors: failed-embed rows are routine at
    corpus scale, and a NULL element would reach the float64 matrices as
    NaN and poison every projection and cosine it touches. Zero-norm vectors
    have no defined cosine: the matmul kernels would NaN-drop them and
    the exact baselines' dot/(na·nb) would THROW DIVIDE_BY_ZERO under
    Spark 4's ANSI default on any pair touching one — excluding them here
    keeps every path total and in agreement. Mirrored in the driver
    oracles' _EMB_VALID_DUCK/_EMB_VALID_SPARK."""
    return emb.filter(
        (F.size(F.col(vec_col)) > 0)
        & ~F.exists(F.col(vec_col), lambda x: x.isNull())
        & F.exists(F.col(vec_col), lambda x: x != 0))


def _vecs(emb: DataFrame, id_col: str, vec_col: str,
          persist: bool = True) -> DataFrame:
    """(_vid, _vec:array<double>, _n): one row per vector with its L2
    norm — the frame the exact baselines join. The norm folds over the
    array in-row (no explode, no shuffle); persisted because both
    baselines join it from two sides."""
    vec = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    out = (
        _valid(emb, vec_col)
        .select(F.col(id_col).alias("_vid"), vec.alias("_vec"))
        .withColumn("_n", F.sqrt(F.aggregate(
            "_vec", F.lit(0.0), lambda acc, x: acc + x * x)))
    )
    if persist:
        out = _track(out.persist(StorageLevel.MEMORY_AND_DISK), out)
    return out


def _dot(a, b):
    """zip_with product + left-to-right fold: the engine-exact dot kernel
    of the exact baselines (same op sequence DuckDB's list_reduce
    replays)."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, x: acc + x)


def _stack_groups(series):
    """Yield ``(positions, matrix)`` per distinct element length in a
    pandas Series of array values. ``np.stack`` is only defined over
    uniform lengths, so one deviant-width row (embedder version drift, a
    truncated write) must not kill the whole task — each width group is
    stacked and processed separately, and cross-width pairs are never
    scored (cosine between different dimensionalities is undefined)."""
    import numpy as np

    lens = series.map(len).to_numpy()
    for length in np.unique(lens):
        pos = np.nonzero(lens == length)[0]
        yield pos, np.stack(series.iloc[pos].to_numpy()).astype(
            np.float64, copy=False)


def _half_up(x, f: float):
    """Sign-aware HALF_UP rounding to 1/f — Spark ``F.round`` and the
    DuckDB oracles' ``round``; ``np.round`` is half-even."""
    import numpy as np

    return np.sign(x) * np.floor(np.abs(x) * f + 0.5) / f


def lsh_buckets(emb: DataFrame, id_col: str = "vec_id",
                vec_col: str = "embedding",
                n_planes: int = DEFAULT_PLANES,
                persist: bool = True) -> DataFrame:
    """(id, bucket): hyperplane-sign LSH. The ``n_planes`` projections
    are ONE float64 matmul per Arrow batch (``mapInPandas``) against the
    deterministic pseudo-planes w(i, j) = ((i·(7j+3)) mod 11) − 5; bit j
    of the bucket is set iff projection j > 0. Invalid embeddings are
    dropped (see ``_valid``). ZERO shuffle: bucket assignment is a pure
    map over the scan. Persisted by default: every downstream join fans
    out over it."""
    src = _valid(emb, vec_col).select(id_col, vec_col)
    id_dt = emb.schema[id_col].dataType.simpleString()

    def body(it):
        import numpy as np
        import pandas as pd
        W = None
        for pdf in it:
            if pdf.empty:
                continue
            ids = pdf[id_col].to_numpy()
            for pos, V in _stack_groups(pdf[vec_col]):
                if W is None or W.shape[1] != V.shape[1]:
                    i = np.arange(V.shape[1])[None, :]
                    j = np.arange(n_planes)[:, None]
                    W = ((i * (7 * j + 3)) % 11 - 5).astype(np.float64)
                proj = V @ W.T
                bucket = ((proj > 0).astype(np.int64)
                          << np.arange(n_planes, dtype=np.int64)[None, :]
                          ).sum(axis=1)
                yield pd.DataFrame({id_col: ids[pos], "bucket": bucket})

    out = src.mapInPandas(body, f"{id_col} {id_dt}, bucket bigint")
    if persist:
        out = _track(out.persist(StorageLevel.MEMORY_AND_DISK), out)
    return out


def _cap(bkt: DataFrame, id_col: str,
         bucket_cap: int | None) -> DataFrame:
    """Salted candidate cap per bucket (smallest ids kept) —
    dedup.cap_buckets with the single-column bucket key."""
    return cap_buckets(bkt, id_col, bucket_cap, key_cols=("bucket",))


def bucketed_topk(emb: DataFrame, id_col: str = "vec_id",
                  vec_col: str = "embedding", k: int = 1,
                  n_planes: int = DEFAULT_PLANES,
                  bucket_cap: int | None = DEFAULT_BUCKET_CAP,
                  nd: int = 4, probe_flips: int = 0) -> DataFrame:
    """(q_id, neighbor_id, cosine): each vector's top-k neighbors WITHIN
    its LSH bucket — exact cosine, partition-local ranking.

    ``probe_flips`` is the LSH recall dial (multiprobe LSH): each QUERY
    also searches the buckets at hamming distance 1 over its first
    ``probe_flips`` plane bits — a near-miss neighbor differs from the
    query in one marginal hyperplane sign with high probability, so
    flipping single bits recovers most of what bucket boundaries cut.
    Candidates stay single-bucket/capped; cost grows ~linearly in
    (1 + probe_flips)."""
    bkt = lsh_buckets(emb, id_col, vec_col, n_planes)
    if probe_flips <= 0:
        return _topk_within(emb, bkt, id_col, vec_col, k, bucket_cap, nd)
    probes = F.array(
        F.col("bucket"),
        *[F.col("bucket").bitwiseXOR(F.lit(1 << j))
          for j in range(min(probe_flips, n_planes))])
    qbkt = bkt.select(id_col, F.explode(probes).alias("bucket"))
    return _topk_within(emb, bkt, id_col, vec_col, k, bucket_cap, nd,
                        query_bkt=_track(qbkt, bkt))


def ivf_centroids(emb: DataFrame, id_col: str = "vec_id",
                  vec_col: str = "embedding",
                  n_cells: int = 16) -> DataFrame:
    """(cell_id, cvec): deterministic sampled centroids — the ``n_cells``
    corpus vectors with the smallest md5(id). Sampling (instead of
    k-means iterations) keeps the structure reproducible and
    oracle-replayable; ``ivf_centroids_kmeans`` below is the trained
    option with the same output shape."""
    return (
        _valid(emb, vec_col)
        .orderBy(F.md5(F.col(id_col).cast("string")), F.col(id_col))
        .limit(n_cells)
        .select(F.col(id_col).alias("cell_id"), F.col(vec_col).alias("cvec"))
    )


def ivf_centroids_kmeans(emb: DataFrame, id_col: str = "vec_id",
                         vec_col: str = "embedding", n_cells: int = 16,
                         iters: int = 2) -> DataFrame:
    """(cell_id, cvec): Lloyd-refined centroids, deterministically
    initialized from ``ivf_centroids``. Each round is the standard
    distributed k-means shape: broadcast-assign (ivf_assign), then
    per-(cell, dim) mean via hash aggregation — O(N·D) rows but only C·D
    groups, crushed map-side; never a pair join. Cells that lose all
    members vanish (standard Lloyd degeneracy — fewer, better cells beats
    empty ones). Each round's assign collects the C current centroids
    when the plan is built (the assigner closes over them), so building
    this plan runs ``iters`` small Spark jobs. Not oracle-replayable
    (float mean order); the sampled path stays the oracled default."""
    cents = ivf_centroids(emb, id_col, vec_col, n_cells)
    for _ in range(iters):
        assign = ivf_assign(emb, cents, id_col, vec_col)
        comp = (
            emb.join(assign, id_col)
            .select("bucket", F.posexplode(vec_col).alias("i", "e"))
        )
        means = comp.groupBy("bucket", "i").agg(
            F.avg(F.col("e").cast("double")).alias("m"))
        cents = (
            means.groupBy("bucket")
            .agg(F.array_sort(F.collect_list(F.struct("i", "m"))).alias("_s"))
            .select(F.col("bucket").alias("cell_id"),
                    F.transform("_s", lambda s: s["m"]).alias("cvec"))
        )
    return cents


def _assign_ranked(emb: DataFrame, centroids: DataFrame, id_col: str,
                   vec_col: str, probes: int) -> DataFrame:
    """(id, bucket, _pr): each vector's ``probes`` nearest centroid cells
    with their probe rank (1 = nearest). The C×D centroid matrix is tiny
    by contract, so it is collected once and closed over a
    ``mapInPandas`` body — squared distances per Arrow batch via one
    matmul in the expanded ||v||² − 2v·c + ||c||² form. No N×C pair rows
    exist anywhere. Ties break to the smaller cell_id (columns pre-sorted
    + stable argsort). One pass yields BOTH the single-cell candidate
    assignment (_pr == 1) and the multi-probe query assignment."""
    import numpy as np

    rows = centroids.collect()
    id_dt = emb.schema[id_col].dataType.simpleString()
    cell_dt = centroids.schema["cell_id"].dataType.simpleString()
    schema = f"{id_col} {id_dt}, bucket {cell_dt}, _pr int"
    if not rows:
        # zero valid vectors → zero centroids → an empty assignment
        # (np.stack would otherwise crash on the empty list)
        return emb.sparkSession.createDataFrame([], schema)
    order = sorted(range(len(rows)), key=lambda i: rows[i]["cell_id"])
    # a mixed-width corpus can sample deviant-width centroids; keep only
    # those matching the first (smallest cell_id) centroid's width —
    # np.stack is undefined over ragged rows, and a deviant centroid
    # could never win an assignment for the dominant width anyway
    width = len(rows[order[0]]["cvec"])
    order = [i for i in order if len(rows[i]["cvec"]) == width]
    Cm = np.stack([np.asarray(rows[i]["cvec"], dtype=np.float64)
                   for i in order])
    cids = np.asarray([rows[i]["cell_id"] for i in order])
    cn2 = (Cm * Cm).sum(axis=1)
    src = _valid(emb, vec_col).select(id_col, vec_col)
    # clamp AFTER the width filter: a mixed-width corpus can drop deviant
    # centroids above, and probes > len(cids) would make np.repeat (n*p)
    # mismatch cids[pr].ravel() (n*len(cids)) in the executor
    p = max(1, min(probes, len(cids)))

    def body(it):
        import numpy as np
        import pandas as pd
        for pdf in it:
            if pdf.empty:
                continue
            ids = pdf[id_col].to_numpy()
            for pos, V in _stack_groups(pdf[vec_col]):
                if V.shape[1] != Cm.shape[1]:
                    # a deviant-width row cannot be scored against the
                    # centroids — dropped
                    continue
                d2 = ((V * V).sum(axis=1)[:, None] - 2.0 * (V @ Cm.T)
                      + cn2[None, :])
                pr = np.argsort(d2, axis=1, kind="stable")[:, :p]
                n = len(pos)
                yield pd.DataFrame({
                    id_col: np.repeat(ids[pos], p),
                    "bucket": cids[pr].ravel(),
                    "_pr": np.tile(np.arange(1, p + 1, dtype=np.int32), n),
                })

    return src.mapInPandas(body, schema)


def ivf_assign(emb: DataFrame, centroids: DataFrame, id_col: str = "vec_id",
               vec_col: str = "embedding", probes: int = 1) -> DataFrame:
    """(id, bucket): each vector's ``probes`` nearest centroid cells
    (standard IVF multi-probe — the QUERY side searches several cells to
    buy recall; the candidate side stays single-cell). See
    ``_assign_ranked`` for the broadcast-matmul distance kernel."""
    return _assign_ranked(emb, centroids, id_col, vec_col, probes) \
        .select(id_col, "bucket")


def ivf_topk(emb: DataFrame, id_col: str = "vec_id",
             vec_col: str = "embedding", k: int = 1, n_cells: int = 16,
             bucket_cap: int | None = DEFAULT_BUCKET_CAP,
             nd: int = 4, trained: bool = False,
             probes: int = 1) -> DataFrame:
    """IVF search: assign → co-partition by cell → exact cosine rank
    within the cell. Same scale shape as bucketed_topk with
    data-adaptive cells instead of fixed hyperplanes. ``trained=True``
    uses Lloyd-refined centroids (non-oracled path); ``probes > 1``
    makes each QUERY search its p nearest cells (recall dial — cost
    grows ~linearly in probes, candidates stay single-cell/capped)."""
    cents = (ivf_centroids_kmeans if trained else ivf_centroids)(
        emb, id_col, vec_col, n_cells)
    # persisted: _topk_within reads the assignment from the candidate
    # side AND the query side, and an unpersisted frame would re-run the
    # mapInPandas assignment (emb scan + Arrow transfer) per consumer
    ranked = _assign_ranked(emb, cents, id_col, vec_col, probes)
    ranked = _track(ranked.persist(StorageLevel.MEMORY_AND_DISK), ranked)
    cells = _track(ranked.filter(F.col("_pr") == 1).select(id_col, "bucket"),
                   ranked)
    qcells = None if probes <= 1 else _track(
        ranked.select(id_col, "bucket"), ranked)
    return _topk_within(emb, cells, id_col, vec_col, k, bucket_cap, nd,
                        query_bkt=qcells)


def _topk_within(emb: DataFrame, bkt: DataFrame, id_col: str,
                 vec_col: str, k: int, bucket_cap: int | None, nd: int,
                 query_bkt: DataFrame | None = None,
                 n_salts: int = DEFAULT_QUERY_SALTS) -> DataFrame:
    """Shared within-bucket exact-cosine ranking (LSH and IVF paths).
    The pair frame never exists: VECTORS shuffle by bucket and each
    bucket's Q×C cosine block is one float64 matmul inside
    ``applyInPandas``. Candidate side capped deterministically; queries
    never dropped. Ranking ties break by ascending neighbor id
    (candidates pre-sorted by id + stable argsort). ``query_bkt``
    overrides the query-side bucket assignment (multi-probe: several rows
    per query id); pairs are deduped before the final rank so a candidate
    reachable via two probes scores once.

    Degenerate-bucket skew: applyInPandas groups cannot be split by AQE,
    so a mega-bucket would otherwise concentrate ALL its queries in one
    task. The group key is therefore (bucket, salt): queries hash into
    ``n_salts`` salts and the CAPPED candidate set (≤ bucket_cap rows)
    is replicated to every salt — per-query results are unchanged (each
    query still meets each candidate exactly once; pinned by
    tests/test_libs.py) while the largest task shrinks ~n_salts×. The
    replication cost is bounded by cap·n_salts rows per bucket."""
    vecs = _valid(emb, vec_col).select(F.col(id_col).alias("_vid"),
                                       F.col(vec_col).alias("_vec"))
    cand = _cap(bkt, id_col, bucket_cap)
    q = query_bkt if query_bkt is not None else bkt
    s = max(1, n_salts)
    qq = (q.select("bucket", F.col(id_col).alias("_vid"))
          .withColumn("_salt", F.pmod(F.hash("_vid"), F.lit(s)))
          .withColumn("_isq", F.lit(True))
          .withColumn("_isc", F.lit(False)))
    cc = (cand.select("bucket", F.col(id_col).alias("_vid"))
          .withColumn("_salt", F.explode(F.sequence(F.lit(0), F.lit(s - 1))))
          .withColumn("_isq", F.lit(False))
          .withColumn("_isc", F.lit(True)))
    rows = qq.unionByName(cc).join(vecs, "_vid")
    id_dt = emb.schema[id_col].dataType.simpleString()
    out_schema = f"q_id {id_dt}, neighbor_id {id_dt}, cosine double"
    f = 10.0 ** nd

    def body(pdf):
        import numpy as np
        import pandas as pd
        qs = pdf[pdf["_isq"]]
        cs = pdf[pdf["_isc"]].sort_values("_vid", kind="mergesort")
        empty = pd.DataFrame({"q_id": qs["_vid"][:0],
                              "neighbor_id": qs["_vid"][:0],
                              "cosine": pd.Series([], dtype="float64")})
        if qs.empty or cs.empty:
            return empty
        cgroups = {C.shape[1]: (pos, C)
                   for pos, C in _stack_groups(cs["_vec"])}
        outs = []
        for qpos, Q in _stack_groups(qs["_vec"]):
            if Q.shape[1] not in cgroups:
                continue
            cpos, C = cgroups[Q.shape[1]]
            # _valid excludes zero-norm vectors, so the division is
            # total; errstate is belt-and-braces
            with np.errstate(invalid="ignore", divide="ignore"):
                sims = (Q @ C.T) / np.outer(
                    np.sqrt((Q * Q).sum(axis=1)),
                    np.sqrt((C * C).sum(axis=1)))
            sims = _half_up(np.where(np.isnan(sims), -np.inf, sims), f)
            qid = qs["_vid"].to_numpy()[qpos]
            cid = cs["_vid"].to_numpy()[cpos]
            sims[qid[:, None] == cid[None, :]] = -np.inf
            kq = min(k, sims.shape[1])
            # stable argsort on -cos: equal cosines keep candidate-id
            # order (cs sorted ascending)
            order = np.argsort(-sims, axis=1, kind="stable")[:, :kq]
            take_s = np.take_along_axis(sims, order, axis=1).ravel()
            keep = np.isfinite(take_s)
            outs.append(pd.DataFrame(
                {"q_id": np.repeat(qid, kq)[keep],
                 "neighbor_id": cid[order].ravel()[keep],
                 "cosine": take_s[keep]}))
        return pd.concat(outs, ignore_index=True) if outs else empty

    out = rows.groupBy("bucket", "_salt").applyInPandas(body, out_schema)
    if query_bkt is not None:
        # top-k of the union == top-k over per-bucket top-ks; dedupe
        # first (a candidate reachable via two probes scores identically)
        w = Window.partitionBy("q_id").orderBy(F.desc("cosine"),
                                               F.asc("neighbor_id"))
        out = (out.dropDuplicates(["q_id", "neighbor_id"])
               .withColumn("_rk", F.row_number().over(w))
               .filter(F.col("_rk") <= k).drop("_rk"))
    # query_bkt must ride along too: multi-probe callers pass DERIVED
    # frames (attribute tracking doesn't survive .filter/.select), so the
    # persisted chain may arrive only via query_bkt
    return _track(out, bkt, query_bkt)


def cosine_topk(emb: DataFrame, query_ids: list | None, k: int = 5,
                id_col: str = "vec_id", vec_col: str = "embedding",
                nd: int = 4) -> DataFrame:
    """Exact brute-force top-k for an explicit (small) query set — the
    baseline the bucketed path approximates; ``query_ids=None`` ranks
    EVERY vector (the recall-oracle mode: O(N²), fixture scale only).
    (q_id, rank, neighbor_id, cosine). The query side is broadcast;
    every corpus vector is scored once per query (one row per pair,
    arrays in-row)."""
    vecs = _vecs(emb, id_col, vec_col)
    q = vecs if query_ids is None else vecs.filter(
        F.col("_vid").isin(query_ids))
    q = q.select(F.col("_vid").alias("q_id"), F.col("_vec").alias("_qvec"),
                 F.col("_n").alias("_qn"))
    sims = (
        F.broadcast(q).crossJoin(vecs)
        .filter(F.col("_vid") != F.col("q_id"))
        .select("q_id", F.col("_vid").alias("c_id"),
                F.round(_dot(F.col("_qvec"), F.col("_vec"))
                        / (F.col("_qn") * F.col("_n")), nd).alias("cosine"))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("c_id"))
    out = (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "rank", F.col("c_id").alias("neighbor_id"), "cosine")
    )
    return _track(out, vecs)


def bucketed_near_dups(emb: DataFrame, threshold: float,
                       id_col: str = "vec_id", vec_col: str = "embedding",
                       n_planes: int = DEFAULT_PLANES,
                       bucket_cap: int | None = DEFAULT_BUCKET_CAP,
                       nd: int = 4) -> DataFrame:
    """Near-duplicate pairs ABOVE a cosine threshold, searched only
    within LSH buckets — the scale path near_dup_pairs approximates
    exactly at O(N²): here candidates are bucket-local (high-cosine
    pairs land in the same sign-bucket with high probability; more
    planes / multi-probe trade recall for cost).

    Capped bucket members shuffle once (one row per VECTOR, not per
    pair); each bucket's id-sorted upper-triangle cosine block is a
    single float64 matmul, thresholded on the UNROUNDED value and emitted
    HALF_UP-rounded. A vector lives in exactly one bucket (single-probe
    LSH), so no cross-bucket pair dedupe is needed."""
    bkt = lsh_buckets(emb, id_col, vec_col, n_planes, persist=False)
    cand = _cap(bkt, id_col, bucket_cap)
    vecs = _valid(emb, vec_col).select(F.col(id_col).alias("_vid"),
                                       F.col(vec_col).alias("_vec"))
    rows = cand.select("bucket", F.col(id_col).alias("_vid")).join(vecs,
                                                                   "_vid")
    id_dt = emb.schema[id_col].dataType.simpleString()
    out_schema = f"vec_a {id_dt}, vec_b {id_dt}, cosine double"
    thr, f = float(threshold), 10.0 ** nd

    def body(pdf):
        import numpy as np
        import pandas as pd
        pdf = pdf.sort_values("_vid", kind="mergesort")
        empty = pd.DataFrame({"vec_a": pdf["_vid"][:0],
                              "vec_b": pdf["_vid"][:0],
                              "cosine": pd.Series([], dtype="float64")})
        if len(pdf) < 2:
            return empty
        ids = pdf["_vid"].to_numpy()
        outs = []
        for pos, V in _stack_groups(pdf["_vec"]):
            if len(pos) < 2:
                continue
            with np.errstate(invalid="ignore", divide="ignore"):
                n = np.sqrt((V * V).sum(axis=1))
                sims = (V @ V.T) / np.outer(n, n)
            iu = np.triu_indices(len(pos), k=1)
            s = sims[iu]
            keep = np.isfinite(s) & (s >= thr)
            gids = ids[pos]
            outs.append(pd.DataFrame({"vec_a": gids[iu[0][keep]],
                                      "vec_b": gids[iu[1][keep]],
                                      "cosine": _half_up(s[keep], f)}))
        return pd.concat(outs, ignore_index=True) if outs else empty

    return rows.groupBy("bucket").applyInPandas(body, out_schema)


def deduplicate_embeddings(emb: DataFrame, threshold: float,
                           id_col: str = "vec_id",
                           vec_col: str = "embedding",
                           n_planes: int = DEFAULT_PLANES,
                           bucket_cap: int | None = DEFAULT_BUCKET_CAP,
                           nd: int = 4) -> DataFrame:
    """End-to-end embedding-cosine near-duplicate REMOVAL — the vector
    twin of dedup.deduplicate_fuzzy: LSH-bucketed candidate pairs above
    ``threshold`` (bucketed_near_dups, never all-pairs) → connected
    components (dedup.cluster_pairs fixpoint) → keep each component's
    minimum id. Rows with invalid embeddings are KEPT (they can't be
    near-duplicates of anything)."""
    from .dedup import cluster_pairs

    pairs = bucketed_near_dups(emb, threshold, id_col, vec_col,
                               n_planes, bucket_cap, nd)
    labels = cluster_pairs(pairs.select("vec_a", "vec_b"),
                           "vec_a", "vec_b")
    drop = labels.filter(F.col("node") != F.col("cluster_id")) \
        .select(F.col("node").alias(id_col))
    return _track(emb.join(drop, id_col, "left_anti"), pairs, labels)


def near_dup_pairs(emb: DataFrame, threshold: float,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   nd: int = 4) -> DataFrame:
    """All pairs above a cosine threshold — EXACT baseline (O(N²) by
    construction, honestly a cartesian product; the scale path is
    bucketed_near_dups). One row per pair: N²/2 rows each carrying two
    arrays."""
    vecs = _vecs(emb, id_col, vec_col)
    a = vecs.select(F.col("_vid").alias("vec_a"),
                    F.col("_vec").alias("_va"), F.col("_n").alias("_na"))
    b = vecs.select(F.col("_vid").alias("vec_b"),
                    F.col("_vec").alias("_vb"), F.col("_n").alias("_nb"))
    sims = (
        a.crossJoin(b).filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b",
                (_dot(F.col("_va"), F.col("_vb"))
                 / (F.col("_na") * F.col("_nb"))).alias("_ratio"))
    )
    out = (
        sims.filter(F.col("_ratio") >= threshold)
        .select("vec_a", "vec_b", F.round("_ratio", nd).alias("cosine"))
    )
    return _track(out, vecs)
