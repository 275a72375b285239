"""Vector similarity search over embedding columns (north_star).

- :func:`cosine_topk` — brute-force exact top-k for one query vector:
  a single scan + TakeOrderedAndProject (distributed partial top-k,
  never a global sort; the same execution shape as the engine's spatial
  kNN, SURVEY §2.4).
- :func:`ann_topk` — the approximate-search ROUTER. Default route is
  IVF (:func:`cosine_topk_ivf`, persisted: :func:`build_ivf_layout`):
  measured at 10M×64-d it holds recall 1.0 at nprobe=1 scanning 42×
  fewer bytes, while hyperplane LSH recall swings 0.24–0.87
  (bench_ann10.json, SCALE.md). LSH (:func:`cosine_topk_ann`) remains
  the no-training-pass route only.
- :func:`knn_join_vectors` — k nearest vectors for *every* row (vector
  kNN self-join) via the generic kNN-join machinery on projected
  coordinates, or exact window over blocked candidates.

The reference's Point is already N-dimensional (ref: Point.scala:28-29),
so d-dim similarity is the natural generalization of its kNN operator.
"""

from __future__ import annotations

import json
import os
from typing import Optional, Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import (cosine_similarity, parallelize_small, vec_dot,
                         vec_norm)


def _query_lit(query_vec: Sequence[float]):
    return F.array(*[F.lit(float(x)) for x in query_vec])


def cosine_topk(
    df: DataFrame,
    query_vec: Sequence[float],
    k: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact top-k rows by cosine similarity to a literal query vector.
    Deterministic: ties broken by id. Adds `cosine_sim`."""
    q = _query_lit(query_vec)
    sim = F.round(cosine_similarity(F.col(vec_col), q), 6)
    return (
        df.withColumn("cosine_sim", sim)
        .orderBy(F.col("cosine_sim").desc(), F.col(id_col).asc())
        .limit(int(k))
    )


def cosine_topk_ann(
    df: DataFrame,
    query_vec: Sequence[float],
    k: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_planes: int = 8,
    probe_hamming: int = 1,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: only rows whose hyperplane sign signature is
    within `probe_hamming` bits of the query's signature are scored
    (multi-probe LSH). With a bucketed layout this prunes the scan to
    ~C(n_planes, probe_hamming)/2^n_planes of the data.

    NOT the default at corpus scale — measured at 10M×64-d
    (bench_ann10.json), hyperplane LSH recall swings 0.24–0.87 where
    the IVF path (:func:`cosine_topk_ivf` / :func:`build_ivf_layout`)
    holds recall 1.0 at nprobe=1 while scanning 42× fewer bytes. Use
    this ONLY when a training pass over the data is impossible (pure
    streaming ingest, no sample available): LSH planes are
    data-independent, IVF centroids are not. :func:`ann_topk` routes
    accordingly."""
    import numpy as np

    dim = len(query_vec)
    rng = np.random.RandomState(seed)
    planes = rng.standard_normal((n_planes, dim))

    vc = F.col(vec_col)
    sig = F.lit(0).cast("long")
    for p_idx in range(n_planes):
        # zip_with/aggregate keeps the expression constant-size in d —
        # an unrolled sum blows the 64KB codegen method limit (d*planes
        # ≳ 500 terms) and silently falls back to interpreted eval.
        dot = vec_dot(vc, F.array(*[F.lit(float(x)) for x in planes[p_idx]]))
        sig = sig.bitwiseOR(
            F.when(dot >= 0, F.shiftleft(F.lit(1).cast("long"), p_idx)).otherwise(
                F.lit(0).cast("long")
            )
        )
    qsig = 0
    qv = np.asarray(query_vec, dtype="float64")
    for p_idx in range(n_planes):
        if float(planes[p_idx] @ qv) >= 0:
            qsig |= 1 << p_idx

    hamming = F.bit_count(sig.bitwiseXOR(F.lit(qsig).cast("long")))
    q = _query_lit(query_vec)
    sim = F.round(cosine_similarity(vc, q), 6)
    return (
        df.filter(hamming <= int(probe_hamming))
        .withColumn("cosine_sim", sim)
        .orderBy(F.col("cosine_sim").desc(), F.col(id_col).asc())
        .limit(int(k))
    )


def resolve_ann_method(method: str = "auto",
                       allow_training_pass: bool = True) -> str:
    """The ANN routing decision, separated for testability: 'auto'
    resolves to 'ivf' whenever a training pass over (a sample of) the
    corpus is possible, 'lsh' otherwise. Grounded in bench_ann10.json
    (10M×64-d): IVF nprobe=1 recall 1.0 / 26 MB scanned / 0.75 s vs
    exact 1093 MB / 6.2 s, while hyperplane-LSH recall was 0.24–0.87 —
    data-dependent centroids simply carve better buckets than
    data-independent planes."""
    if method != "auto":
        assert method in ("ivf", "lsh", "exact"), method
        return method
    return "ivf" if allow_training_pass else "lsh"


def ann_topk(
    df: DataFrame,
    query_vec: Sequence[float],
    k: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    method: str = "auto",
    allow_training_pass: bool = True,
    **kwargs,
) -> DataFrame:
    """Approximate nearest-neighbor top-k router (see
    :func:`resolve_ann_method` for the default policy and its
    measurements). Extra kwargs flow to the routed implementation
    (`n_centroids`/`nprobe`/`assigned`/`centroids` for IVF,
    `n_planes`/`probe_hamming` for LSH). `method='exact'` falls back
    to the brute-force scan for ground truth."""
    m = resolve_ann_method(method, allow_training_pass)
    if m == "ivf":
        return cosine_topk_ivf(df, query_vec, k, vec_col=vec_col,
                               id_col=id_col, **kwargs)
    if m == "lsh":
        return cosine_topk_ann(df, query_vec, k, vec_col=vec_col,
                               id_col=id_col, **kwargs)
    return cosine_topk(df, query_vec, k, vec_col=vec_col, id_col=id_col)


def _kmeans_centroids(vectors, n_centroids: int, iters: int, seed: int):
    """Driver-side seeded Lloyd k-means over a (small) sample — numpy
    only, deterministic. Returns (C, d) array."""
    import numpy as np

    X = np.asarray(vectors, dtype="float64")
    rng = np.random.RandomState(seed)
    C = min(int(n_centroids), len(X))
    cent = X[rng.choice(len(X), size=C, replace=False)]
    for _ in range(int(iters)):
        d2 = ((X[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)
        for c in range(C):
            m = X[assign == c]
            if len(m):
                cent[c] = m.mean(axis=0)
    return cent


def _centroid_d2_array(vec_col, centroids) -> "Column":
    """Column: array of squared-L2 distances to each centroid. One
    constant-size aggregate expression per centroid — C ≲ a few
    hundred stays well inside codegen limits regardless of
    dimensionality."""
    vc = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    d2s = []
    for c in centroids:
        # ONE F.expr per centroid literal array (round-11 opt: the
        # per-element F.lit loop cost C x d py4j round-trips — seconds
        # of driver time per query at 8 x 64; repr() round-trips the
        # exact double bits, so the parsed literal is identical)
        lit = F.expr(
            "array(" + ", ".join(repr(float(x)) + "D" for x in c) + ")")
        d2s.append(
            F.aggregate(
                F.zip_with(vc, lit, lambda a, b: (a.cast("double") - b) * (a.cast("double") - b)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        )
    return F.array(*d2s)


def _centroid_assign_col(vec_col, centroids) -> "Column":
    """Column: index of the nearest centroid (L2)."""
    arr = _centroid_d2_array(vec_col, centroids)
    return (F.array_position(arr, F.array_min(arr)) - 1).cast("int")


def _centroid_probe_col(vec_col, centroids, nprobe: int) -> "Column":
    """Column: array of the ``nprobe`` nearest centroid indices
    (distance asc, index asc on exact ties) — the multi-list probe set
    of :func:`ivf_knn_join`'s left side."""
    arr = _centroid_d2_array(vec_col, centroids)
    ranked = F.array_sort(F.zip_with(
        arr,
        F.sequence(F.lit(0), F.lit(len(centroids) - 1)),
        lambda d, j: F.struct(d.alias("d"), j.alias("j")),
    ))
    return F.transform(
        F.slice(ranked, 1, int(nprobe)), lambda s: s["j"].cast("int"))


def build_ivf(
    df: DataFrame,
    vec_col: str = "embedding",
    n_centroids: int = 16,
    sample_cap: int = 2000,
    iters: int = 10,
    seed: int = 42,
    trainer: str = "sample",
    id_col: str = "vec_id",
):
    """IVF index build: train a coarse quantizer, assign every row its
    inverted-list id (`__ivf`). At scale, repartition/persist (or write
    bucketed parquet) on `__ivf` so a probe scans only its lists.
    Returns (assigned_df, centroids).

    ``trainer='sample'`` (default): ``sample_cap`` hash-selected
    vectors into a driver-side numpy Lloyd's — the right cost for an
    index (centroid quality saturates at a few thousand samples).
    ``trainer='full'``: distributed Lloyd's over EVERY vector
    (:func:`.clustering.kmeans` — requires ``id_col``; rows with NULL
    id/vector or non-modal dimension are dropped by its validity
    filter); pick this when the corpus has rare tail modes a bounded
    sample would miss, at the cost of ``iters`` full passes."""
    if trainer == "full":
        from .clustering import kmeans

        assigned, cents = kmeans(
            df, vec_col=vec_col, id_col=id_col, k=int(n_centroids),
            iters=int(iters), seed=int(seed), out_col="__ivf")
        import numpy as np

        return assigned, np.asarray(cents, dtype="float64")
    if trainer != "sample":
        raise ValueError(f"unknown IVF trainer: {trainer!r}")
    # train on validity-filtered vectors only (the kmeans modal-dim
    # contract): a NULL / off-dimension vector in the hash sample is a
    # ragged numpy array, not a centroid. The returned assignment frame
    # stays unfiltered — invalid rows carry a NULL `__ivf` and callers
    # keep their own drop/keep policy.
    row = (
        df.filter(F.col(vec_col).isNotNull())
        .groupBy(F.size(vec_col).alias("d")).count()
        .orderBy(F.col("count").desc(), F.col("d").asc())
        .first()
    )
    if row is None:
        raise ValueError("build_ivf: no non-null vectors")
    dim = int(row["d"])
    sample = [
        r[0]
        for r in df.filter(
            F.col(vec_col).isNotNull() & (F.size(vec_col) == dim))
        .select(vec_col)
        .orderBy(F.xxhash64(F.col(vec_col).cast("array<double>"), F.lit(seed)))
        .limit(int(sample_cap))
        .collect()
    ]
    cent = _kmeans_centroids(sample, n_centroids, iters, seed)
    return df.withColumn("__ivf", _centroid_assign_col(vec_col, cent)), cent


def cosine_topk_ivf(
    df: DataFrame,
    query_vec: Sequence[float],
    k: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_centroids: int = 16,
    nprobe: int = 4,
    sample_cap: int = 2000,
    seed: int = 42,
    assigned: Optional[DataFrame] = None,
    centroids=None,
    where=None,
) -> DataFrame:
    """Approximate top-k via IVF: score only rows whose inverted list is
    one of the query's `nprobe` nearest centroids. Pass (assigned,
    centroids) from :func:`build_ivf` to amortize the build across
    queries — the scale path for repeated search over a static corpus.

    ``where`` (a boolean Column over the input's columns) gives
    METADATA-FILTERED search — the RAG "top-k among documents matching
    this predicate" shape. The filter composes with (never replaces)
    the probe pruning: it lands between the list scan and the ranking,
    so Catalyst pushes it into the probed scan and the top-k is exact
    over the filtered candidate set of the probed lists. Recall
    caveat inherent to filtered IVF: a highly selective predicate can
    empty the probed lists while matches exist in unprobed ones —
    raise nprobe as selectivity rises."""
    import numpy as np

    if assigned is None or centroids is None:
        assigned, centroids = build_ivf(
            df, vec_col, n_centroids=n_centroids, sample_cap=sample_cap, seed=seed
        )
    qv = np.asarray(query_vec, dtype="float64")
    d2 = ((centroids - qv[None, :]) ** 2).sum(axis=1)
    probes = [int(i) for i in np.argsort(d2)[: int(nprobe)]]

    q = _query_lit(query_vec)
    sim = F.round(cosine_similarity(F.col(vec_col), q), 6)
    out = assigned.filter(F.col("__ivf").isin(probes))
    if where is not None:
        out = out.filter(where)
    return (
        out.withColumn("cosine_sim", sim)
        .orderBy(F.col("cosine_sim").desc(), F.col(id_col).asc())
        .limit(int(k))
        .drop("__ivf")
    )


# ---------------------------------------------------------------------------
# persisted vector layouts: the probe-side I/O-pruning story.
#
# build_ivf() assigns inverted-list ids, but an unpersisted assignment
# still scans every row per probe. These helpers write the assignment as
# list-partitioned Parquet (one directory per inverted list / signature
# bucket), so a probe's isin() predicate prunes directories at planning
# time — the vector analog of the z-order layout's bucket pruning
# (ref parity: IndexManager.persistIndex, IndexManager.scala:122-176).


def build_ivf_layout(
    df: DataFrame,
    path: str,
    vec_col: str = "embedding",
    n_centroids: int = 16,
    sample_cap: int = 2000,
    iters: int = 10,
    seed: int = 42,
    files_per_list: int = 8,
) -> str:
    """Persist an IVF layout: rows written under ``data/__ivf=<list>/``
    with centroids in JSON. A probe then reads only its nprobe lists.

    File sizing is a two-sided trade measured at 10M×64-d
    (scripts/bench_ann.py): clustering rows by bare list id before the
    partitioned write avoids the tasks×lists small-file explosion, but
    ONE file per list serializes every probe to nprobe tasks — an
    nprobe=4 probe ran as slow as the exact scan despite reading 8×
    fewer bytes. Salting the shuffle key to ~`files_per_list` files per
    list keeps both properties: bounded file count AND `files_per_list`-
    way scan parallelism per probed list."""
    assigned, cent = build_ivf(
        df, vec_col, n_centroids=n_centroids, sample_cap=sample_cap,
        iters=iters, seed=seed,
    )
    fpl = max(1, int(files_per_list))
    salt = (F.abs(F.xxhash64(F.col(vec_col).cast("array<double>"))) % fpl)
    (
        assigned.withColumn("__fs", salt)
        .repartition(int(n_centroids) * fpl, "__ivf", "__fs")
        .drop("__fs")
        .write.mode("overwrite")
        .partitionBy("__ivf")
        .parquet(os.path.join(path, "data"))
    )
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, "ivf.json"), "w") as f:
        json.dump(
            {"vec_col": vec_col, "centroids": [list(map(float, c)) for c in cent]},
            f,
        )
    return path


def load_ivf_layout(spark, path: str):
    """(assigned_df, centroids) from a persisted IVF layout — metadata
    read + lazy parquet handle, no Spark job."""
    import numpy as np

    with open(os.path.join(path, "ivf.json")) as f:
        meta = json.load(f)
    df = spark.read.parquet(os.path.join(path, "data"))
    return df, np.asarray(meta["centroids"], dtype="float64")


def cosine_topk_ivf_layout(
    spark,
    path: str,
    query_vec: Sequence[float],
    k: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    nprobe: int = 4,
    where=None,
) -> DataFrame:
    """Approximate top-k through a persisted IVF layout: the probe's
    ``__ivf IN (...)`` predicate is a partition-directory filter — files
    of unprobed lists never get tasks (assert: PartitionFilters in the
    plan). ``where`` adds a metadata predicate on top (filtered search);
    it pushes into the probed scan as a data filter while the probe
    list keeps pruning directories."""
    import numpy as np

    assigned, centroids = load_ivf_layout(spark, path)
    qv = np.asarray(query_vec, dtype="float64")
    d2 = ((centroids - qv[None, :]) ** 2).sum(axis=1)
    probes = [int(i) for i in np.argsort(d2)[: int(nprobe)]]
    q = _query_lit(query_vec)
    sim = F.round(cosine_similarity(F.col(vec_col), q), 6)
    out = assigned.filter(F.col("__ivf").isin(probes))
    if where is not None:
        out = out.filter(where)
    return (
        out.withColumn("cosine_sim", sim)
        .orderBy(F.col("cosine_sim").desc(), F.col(id_col).asc())
        .limit(int(k))
        .drop("__ivf")
    )


def build_ann_layout(
    df: DataFrame,
    path: str,
    vec_col: str = "embedding",
    n_planes: int = 8,
    seed: int = 42,
    dim: Optional[int] = None,
) -> str:
    """Persist a hyperplane-LSH layout: rows under ``data/__sig=<b>/``
    (2^n_planes signature buckets), planes seeded + stored in JSON."""
    from .dedup import hyperplane_planes, hyperplane_sig_col

    if dim is None:
        dim = len(df.select(vec_col).first()[0])
    planes = hyperplane_planes(n_planes, dim, seed)
    out = df.withColumn("__sig", hyperplane_sig_col(vec_col, planes))
    # cluster by signature before the partitioned write (see
    # build_ivf_layout) — bounds output to ~one file per non-empty
    # bucket instead of tasks x 2^n_planes
    out.repartition("__sig").write.mode(
        "overwrite"
    ).partitionBy("__sig").parquet(os.path.join(path, "data"))
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, "ann.json"), "w") as f:
        json.dump({"vec_col": vec_col, "n_planes": n_planes, "seed": seed}, f)
    return path


def cosine_topk_ann_layout(
    spark,
    path: str,
    query_vec: Sequence[float],
    k: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    probe_hamming: int = 1,
) -> DataFrame:
    """Approximate top-k through a persisted LSH layout: multi-probe
    enumerates every signature within `probe_hamming` bits of the query
    signature (sum of C(n_planes, 0..h) values) and prunes to those
    bucket directories."""
    from itertools import combinations

    import numpy as np

    with open(os.path.join(path, "ann.json")) as f:
        meta = json.load(f)
    n_planes, seed = int(meta["n_planes"]), int(meta["seed"])
    qv = np.asarray(query_vec, dtype="float64")
    rng = np.random.RandomState(seed)
    planes = rng.standard_normal((n_planes, len(qv)))
    qsig = 0
    for p_idx in range(n_planes):
        if float(planes[p_idx] @ qv) >= 0:
            qsig |= 1 << p_idx
    probes = set()
    for h in range(int(probe_hamming) + 1):
        for flip in combinations(range(n_planes), h):
            s = qsig
            for b in flip:
                s ^= 1 << b
            probes.add(s)
    df = spark.read.parquet(os.path.join(path, "data"))
    q = _query_lit(query_vec)
    sim = F.round(cosine_similarity(F.col(vec_col), q), 6)
    return (
        df.filter(F.col("__sig").isin(sorted(probes)))
        .withColumn("cosine_sim", sim)
        .orderBy(F.col("cosine_sim").desc(), F.col(id_col).asc())
        .limit(int(k))
        .drop("__sig")
    )


def knn_join_vectors(
    df: DataFrame,
    k: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    algo: str = "lsh",
    n_planes: int = 12,
    seed: int = 42,
    dim: Optional[int] = None,
    probe: int = 1,
) -> DataFrame:
    """k nearest neighbors (by cosine) for every row — vector self-join.

    Default ``algo='lsh'``: candidates within Hamming distance
    ``probe`` (default 1 — the signature bucket plus its one-bit-flip
    neighbors, the same adjacency the query-time ANN path probes) —
    approximate, linear-ish, the scale-safe default. ``algo='exact'``
    is the opt-in crossJoin + window oracle path (quadratic — never a
    silent default at 100 TB).
    Output: (a_id, b_id, cosine_sim, rank) with rank in [1, k].
    """
    a = df.select(F.col(id_col).alias("a_id"), F.col(vec_col).alias("__va"))
    b = df.select(F.col(id_col).alias("b_id"), F.col(vec_col).alias("__vb"))
    if algo == "exact" or n_planes <= 0:
        cand = a.crossJoin(b).filter(F.col("a_id") != F.col("b_id"))
    elif algo != "lsh":
        raise ValueError(f"unknown vector knn-join algo: {algo}")
    else:
        from .dedup import _hyperplane_signature, _probe_signatures

        sig = _hyperplane_signature(df, vec_col, n_planes, seed, dim=dim)
        sa = sig.select(F.col(id_col).alias("a_id"), F.col("__sig").alias("__siga"))
        sb = sig.select(F.col(id_col).alias("b_id"), F.col("__sig").alias("__sigb"))
        sa = sa.withColumn("__siga", _probe_signatures("__siga", n_planes, probe))
        cand = (
            a.join(sa, on="a_id")
            .join(b.join(sb, on="b_id"), F.col("__siga") == F.col("__sigb"))
            .filter(F.col("a_id") != F.col("b_id"))
        )
    sim = F.round(cosine_similarity("__va", "__vb"), 6)
    w = Window.partitionBy("a_id").orderBy(
        F.col("cosine_sim").desc(), F.col("b_id").asc()
    )
    return (
        cand.withColumn("cosine_sim", sim)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= int(k))
        .select("a_id", "b_id", "cosine_sim", "rank")
    )


def ivf_knn_join(
    left: DataFrame,
    right: Optional[DataFrame] = None,
    k: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_centroids: int = 16,
    nprobe: int = 2,
    iters: int = 10,
    sample_cap: int = 2000,
    seed: int = 42,
    codes: bool = False,
    **pq_opts,
) -> DataFrame:
    """IVF-bucketed approximate kNN JOIN (cosine) — the BOTH-SIDES-
    LARGE form of the ANN family (:func:`cosine_topk_ivf` serves one
    literal query; :func:`knn_join_vectors`'s LSH path is the
    signature-bucket alternative): train a coarse quantizer on a
    bounded hash-selected sample of the RIGHT side, assign every right
    row its inverted list (one codegen'd Column expression), replicate
    every left row to its ``nprobe`` nearest lists (one explode — a
    right row lives in exactly ONE list, so no pair is emitted twice
    and no dedup pass exists), and rank the within-list candidates.
    The all-pairs cartesian never materializes: candidate volume is
    ~``nprobe/C`` of it. ``nprobe = n_centroids`` probes every list
    and is EXACT by construction (the oracle configuration); smaller
    ``nprobe`` trades recall for scan fraction (recall asserted in
    tests). ``right=None`` = self-join (``a_id != b_id`` excluded).
    Rows with a NULL vector or a length differing from the trained
    dimension are dropped from BOTH sides (the kmeans validity
    contract) — symmetric, instead of right-NULLs silently vanishing
    while left-NULLs rank with NULL similarity.

    Output ``(a_id, b_id, cosine_sim, rank)``, sim rounded to 6dp,
    rank 1..k by (sim desc, b_id asc) — :func:`knn_join_vectors`
    conventions.

    Scale: centroids are parameter-bounded driver numpy over a
    ``sample_cap`` sample; both assignments are zero-shuffle literal
    projections; ONE list equi-join (AQE-sized) + ONE per-left-id
    window. At 100 TB persist the right side list-partitioned
    (:func:`build_ivf_layout`) so each probe prunes directories, and
    pass ``codes=True`` to carry the right side as PQ codes through
    the candidate stage (→ :func:`ivfpq_knn_join`; ``m`` / ``nbits`` /
    ``shortlist`` via keyword).
    """
    if codes:
        return ivfpq_knn_join(
            left, right, k=k, vec_col=vec_col, id_col=id_col,
            n_centroids=n_centroids, nprobe=nprobe, iters=iters,
            sample_cap=sample_cap, seed=seed, **pq_opts)
    if pq_opts:
        raise ValueError(
            f"PQ options {sorted(pq_opts)} require codes=True")
    self_join = right is None
    r = left if self_join else right
    assigned, cents = build_ivf(
        r, vec_col, n_centroids=n_centroids, sample_cap=sample_cap,
        iters=iters, seed=seed)
    nprobe = min(int(nprobe), len(cents))
    # validity filter BOTH sides (the kmeans __pts contract): without
    # it a right row with a NULL vector drops silently (NULL list key)
    # while a left NULL row still probes (struct-sorting NULL distances
    # yields non-NULL centroid ids) and surfaces as (a_id, b_id, NULL
    # cosine_sim) ranked rows — an asymmetry, not a semantics
    dim = len(cents[0])
    valid = F.col(vec_col).isNotNull() & (F.size(vec_col) == int(dim))
    # norms are computed per ROW here, not per candidate pair (round-11
    # opt: cosine_similarity re-derived both norms for every pair — 3
    # array folds per candidate; with |list| candidates per probe
    # that's 2x|list| redundant folds per left row). Same bits: the
    # norm expression is unchanged, just projected once per side, and
    # sim keeps the exact dot/(na*nb) tree shape.
    la = left.filter(valid).select(
        F.col(id_col).alias("a_id"), F.col(vec_col).alias("__va"),
        vec_norm(vec_col).alias("__na"),
        F.explode(_centroid_probe_col(vec_col, cents, nprobe))
        .alias("__ivf"),
    )
    rb = assigned.filter(valid).select(
        F.col(id_col).alias("b_id"), F.col(vec_col).alias("__vb"),
        vec_norm(vec_col).alias("__nb"),
        "__ivf",
    )
    # scale-adaptive parallelism for the candidate stage (guide §2.5):
    # a small probe frame arrives in 1-2 scan partitions (one parquet
    # split), so the per-pair dot products of the broadcast join run
    # on ONE core; the size guard keeps big probe frames on their
    # natural scan parallelism with no extra exchange.
    la = parallelize_small(la)
    cand = la.join(rb, "__ivf")
    if self_join:
        cand = cand.filter(F.col("a_id") != F.col("b_id"))
    sim = F.round(
        vec_dot("__va", "__vb") / (F.col("__na") * F.col("__nb")), 6)
    w = Window.partitionBy("a_id").orderBy(
        F.col("cosine_sim").desc(), F.col("b_id").asc()
    )
    return (
        cand.withColumn("cosine_sim", sim)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= int(k))
        .select("a_id", "b_id", "cosine_sim", "rank")
    )


def ivfpq_knn_join(
    left: DataFrame,
    right: Optional[DataFrame] = None,
    k: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_centroids: int = 16,
    nprobe: int = 2,
    m: int = 8,
    nbits: int = 8,
    shortlist: Optional[int] = None,
    iters: int = 10,
    sample_cap: int = 2000,
    seed: int = 42,
) -> DataFrame:
    """IVF×PQ approximate kNN JOIN (cosine) — :func:`ivf_knn_join`
    with the right side carried as ``m``-byte PQ codes instead of
    full-precision vectors (the 100 TB form: at 64-d float the list
    equi-join shuffles 8-byte codes, a 32× candidate-stage byte
    reduction), ADC-scored per candidate, with an exact re-rank tail.

    Pipeline: train a coarse quantizer + per-subspace codebooks on
    bounded right-side samples; the right side becomes
    ``(b_id, list, code)``; every left row replicates to its
    ``nprobe`` nearest lists carrying its L2-normalized vector; ONE
    list equi-join yields candidates scored by the JOIN-form ADC
    (:func:`.pq.pq_adc_join_col` — each left row is its own query, so
    the distance folds against the codebook literal per subspace);
    ``shortlist`` keeps the best ADC candidates per left row; only
    those survivors fetch the true right vector (a skinny id join)
    for the EXACT cosine re-rank. ``nprobe = n_centroids`` with
    ``shortlist=None`` probes every list and re-ranks every candidate
    — exact by construction (the oracle configuration); production
    sets both (recall asserted in tests, measured in bench_ann).

    Validity: NULL / off-dimension vectors drop from BOTH sides (the
    :func:`ivf_knn_join` contract). Output ``(a_id, b_id, cosine_sim,
    rank)``, sim rounded to 6dp, rank 1..k by (sim desc, b_id asc).

    Scale: quantizers are parameter-sized driver state; assignments /
    encodes are zero-shuffle map passes; ONE code-width list equi-join
    + ONE per-left ADC window + ONE |L|·shortlist-row id join. The
    re-rank join is the only stage that touches right vectors, and it
    reads ≤ shortlist rows per left row.
    """
    from .pq import pq_adc_join_col, pq_encode, pq_train

    self_join = right is None
    r = left if self_join else right
    assigned, cents = build_ivf(
        r, vec_col, n_centroids=n_centroids, sample_cap=sample_cap,
        iters=iters, seed=seed)
    nprobe = min(int(nprobe), len(cents))
    dim = len(cents[0])
    valid = F.col(vec_col).isNotNull() & (F.size(vec_col) == int(dim))
    model = pq_train(
        r, vec_col=vec_col, m=m, nbits=nbits, metric="cosine",
        sample_cap=sample_cap, iters=iters, seed=seed, dim=dim)
    codes = pq_encode(
        assigned.filter(valid), model, vec_col=vec_col, out_col="__pqc"
    ).select(F.col(id_col).alias("b_id"), "__ivf", "__pqc")
    vcast = F.col(vec_col).cast("array<double>")
    sq = F.aggregate(F.transform(vcast, lambda x: x * x), F.lit(0.0),
                     lambda acc, x: acc + x)
    la = (
        left.filter(valid)
        .withColumn("__nrm",
                    F.when(F.sqrt(sq) > 0, F.sqrt(sq)).otherwise(F.lit(1.0)))
        .select(
            F.col(id_col).alias("a_id"), F.col(vec_col).alias("__va"),
            vec_norm(vec_col).alias("__na"),
            F.transform(vcast, lambda x: x / F.col("__nrm")).alias("__van"),
            F.explode(_centroid_probe_col(vec_col, cents, nprobe))
            .alias("__ivf"),
        )
    )
    # same size-guarded probe-frame repartition as ivf_knn_join (§2.5)
    la = parallelize_small(la)
    cand = la.join(codes, "__ivf")
    if self_join:
        cand = cand.filter(F.col("a_id") != F.col("b_id"))
    if shortlist is not None:
        cand = cand.withColumn(
            "__adc", pq_adc_join_col(model, "__van", "__pqc"))
        ws = Window.partitionBy("a_id").orderBy(
            F.col("__adc").asc(), F.col("b_id").asc())
        cand = (cand.withColumn("__srank", F.row_number().over(ws))
                .filter(F.col("__srank") <= int(shortlist)))
    rb = r.filter(valid).select(
        F.col(id_col).alias("b_id"), F.col(vec_col).alias("__vb"),
        vec_norm(vec_col).alias("__nb"))
    # per-side norms, not per-pair (same round-11 move as ivf_knn_join;
    # identical expression trees, so identical bits)
    rer = cand.select("a_id", "__va", "__na", "b_id").join(rb, "b_id")
    sim = F.round(
        vec_dot("__va", "__vb") / (F.col("__na") * F.col("__nb")), 6)
    w = Window.partitionBy("a_id").orderBy(
        F.col("cosine_sim").desc(), F.col("b_id").asc()
    )
    return (
        rer.withColumn("cosine_sim", sim)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= int(k))
        .select("a_id", "b_id", "cosine_sim", "rank")
    )


def truncation_recall(
    df: DataFrame,
    dims: Sequence[int],
    k: int = 10,
    n_queries: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_to: int = 6,
) -> DataFrame:
    """Matryoshka-style truncation evaluation: for each prefix width
    ``d`` in ``dims``, the recall@k of cosine top-k computed on the
    FIRST ``d`` dimensions against the full-width top-k — the offline
    answer to "how many dims can we drop before retrieval degrades",
    the storage/latency knob for MRL embeddings (Kusupati et al. 2022,
    public method) and for deciding an IVF/PQ input width.

    Queries are the ``n_queries`` lowest-id vectors (deterministic,
    self-match excluded); per (query, d) recall = |trunc-topk ∩
    full-topk| / k. Returns ``(query_id, d_trunc, recall_at_k)``.

    Scale: each width is one corpus-linear pass — the query frame is
    a broadcast, similarity is codegen'd higher-order arithmetic,
    per-query top-k a bounded window; nothing quadratic in the corpus.
    Ranking uses the engine's rounded-sim (sim DESC, id ASC) order so
    both engines pick identical top-k sets.
    """
    kk = int(k)
    if kk < 1:
        raise ValueError(f"k must be >= 1: {k}")
    widths = sorted({int(d) for d in dims})
    if not widths or widths[0] < 1:
        raise ValueError(f"dims must be positive: {dims}")
    q = df.filter(F.col(id_col) < int(n_queries)).select(
        F.col(id_col).alias("__qid"), F.col(vec_col).alias("__qv"))
    c = df.select(F.col(id_col).alias("__cid"), F.col(vec_col).alias("__cv"))
    pairs = c.crossJoin(F.broadcast(q)).filter(
        F.col("__cid") != F.col("__qid"))

    def topk(d):
        if d is None:
            a, b = F.col("__cv"), F.col("__qv")
        else:
            a = F.slice(F.col("__cv"), 1, int(d))
            b = F.slice(F.col("__qv"), 1, int(d))
        sim = F.round(cosine_similarity(a, b), 6)
        w = Window.partitionBy("__qid").orderBy(
            sim.desc(), F.col("__cid").asc())
        return (
            pairs.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= kk)
            .select("__qid", "__cid")
        )

    full = topk(None)
    out = None
    for d in widths:
        hit = topk(d).join(full, ["__qid", "__cid"]).groupBy("__qid").agg(
            F.count(F.lit(1)).alias("__hits"))
        part = (
            q.select("__qid").join(hit, "__qid", "left")
            .select(
                F.col("__qid").alias("query_id"),
                F.lit(int(d)).alias("d_trunc"),
                F.round(
                    F.coalesce(F.col("__hits"), F.lit(0)).cast("double")
                    / F.lit(float(kk)),
                    int(round_to)).alias("recall_at_k"),
            )
        )
        out = part if out is None else out.unionByName(part)
    return out


def truncation_recall_sql(
    table: str = "embeddings",
    dims: Sequence[int] = (8, 16, 32),
    k: int = 10,
    n_queries: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_to: int = 6,
) -> str:
    """DuckDB mirror of :func:`truncation_recall` — list slicing on
    the DOUBLE-cast vectors, the same rounded-sim rank order, one
    top-k CTE per width."""
    kk = int(k)
    widths = sorted({int(d) for d in dims})
    if not widths or widths[0] < 1 or kk < 1:
        raise ValueError(f"bad dims/k: {dims}, {k}")

    def topk_cte(name, sl):
        return f"""{name} AS MATERIALIZED (
  SELECT __qid, __cid FROM (
    SELECT q.__qid, c.__cid,
           row_number() OVER (
             PARTITION BY q.__qid
             ORDER BY round(list_cosine_similarity(
                        (c.__cv){sl}, (q.__qv){sl}), 6) DESC,
                      c.__cid ASC) AS __rn
    FROM __c c, __q q WHERE c.__cid <> q.__qid
  ) WHERE __rn <= {kk}
)"""

    ctes = [
        f"""__q AS MATERIALIZED (
  SELECT {id_col} AS __qid, {vec_col}::DOUBLE[] AS __qv
  FROM {table} WHERE {id_col} < {int(n_queries)}
)""",
        f"""__c AS MATERIALIZED (
  SELECT {id_col} AS __cid, {vec_col}::DOUBLE[] AS __cv FROM {table}
)""",
        topk_cte("__full", ""),
    ]
    selects = []
    for d in widths:
        ctes.append(topk_cte(f"__t{d}", f"[1:{int(d)}]"))
        selects.append(f"""
SELECT q.__qid AS query_id, {int(d)} AS d_trunc,
       round(CAST(coalesce(h.__hits, 0) AS DOUBLE)
             / CAST({float(kk)!r} AS DOUBLE), {int(round_to)})
         AS recall_at_k
FROM __q q LEFT JOIN (
  SELECT t.__qid, count(*)::BIGINT AS __hits
  FROM __t{d} t JOIN __full f
    ON t.__qid = f.__qid AND t.__cid = f.__cid
  GROUP BY 1
) h ON q.__qid = h.__qid""")
    return ("WITH " + ",\n".join(ctes)
            + "\nUNION ALL\n".join(selects))


def contrastive_pairs(
    df: DataFrame,
    k: int = 5,
    n_anchors: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
    kinds: Sequence[str] = ("pos", "neg"),
    round_to: int = 6,
) -> DataFrame:
    """Contrastive-pair mining over a labeled embedding corpus — the
    training-data op behind metric-learning / embedding fine-tuning:
    for each anchor, the k HARDEST positives (same label, LOWEST
    cosine — the pairs the current embedding gets most wrong) and the
    k hardest negatives (different label, HIGHEST cosine — the
    near-miss confusions worth a gradient).

    Anchors are the TRUE ``n_anchors`` lowest-id labeled vectors —
    a bounded ``orderBy(id).limit(n)`` (TakeOrderedAndProject), so the
    contract holds on ANY id domain (offset ranges, sampled corpora,
    hashed ids), not just dense 0-based ids. Returns ``(anchor_id,
    kind, pair_id, cosine_sim, rank)`` with kind in {'pos', 'neg'},
    rank 1 = hardest. Rows with NULL label are excluded from both
    sides.

    Scale: the anchor frame broadcasts; candidate scoring is one
    corpus-linear pass per kind (codegen'd cosine, bounded windows) —
    at billion-row scale swap the exact pass for the engine's
    ANN/IVF shortlist and keep the same ranking contract. Rounded-sim
    deterministic (sim, id) order, so both engines mine identical
    pairs.
    """
    kk = int(k)
    if kk < 1:
        raise ValueError(f"k must be >= 1: {k}")
    kinds = list(kinds)
    if not kinds or any(kd not in ("pos", "neg") for kd in kinds):
        raise ValueError(f"kinds must be a subset of ('pos','neg'): {kinds}")
    base = df.filter(F.col(label_col).isNotNull())
    anchors = base.orderBy(F.col(id_col).asc()).limit(int(n_anchors)).select(
        F.col(id_col).alias("__aid"), F.col(vec_col).alias("__av"),
        F.col(label_col).alias("__al"))
    cand = base.select(
        F.col(id_col).alias("__cid"), F.col(vec_col).alias("__cv"),
        F.col(label_col).alias("__cl"))
    pairs = cand.crossJoin(F.broadcast(anchors)).filter(
        F.col("__cid") != F.col("__aid"))
    sim = F.round(cosine_similarity(F.col("__cv"), F.col("__av")), 6)

    def mine(kind):
        if kind == "neg":
            flt = F.col("__cl") != F.col("__al")
            order = [F.col("__sim").desc(), F.col("__cid").asc()]
        else:
            flt = F.col("__cl") == F.col("__al")
            order = [F.col("__sim").asc(), F.col("__cid").asc()]
        w = Window.partitionBy("__aid").orderBy(*order)
        return (
            pairs.filter(flt)
            .withColumn("__sim", sim)
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= kk)
            .select(
                F.col("__aid").alias("anchor_id"),
                F.lit(kind).alias("kind"),
                F.col("__cid").alias("pair_id"),
                F.round(F.col("__sim"), int(round_to)).alias("cosine_sim"),
                F.col("__rn").alias("rank"),
            )
        )

    out = None
    for kd in kinds:
        part = mine(kd)
        out = part if out is None else out.unionByName(part)
    return out


def contrastive_pairs_sql(
    table: str = "embeddings",
    k: int = 5,
    n_anchors: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
    kinds: Sequence[str] = ("pos", "neg"),
    round_to: int = 6,
) -> str:
    """DuckDB mirror of :func:`contrastive_pairs` (same n-lowest-id
    anchor rule, rounded-sim rank orders, and kind semantics)."""
    kk = int(k)
    kinds = list(kinds)
    if kk < 1 or not kinds or any(kd not in ("pos", "neg") for kd in kinds):
        raise ValueError(f"bad k/kinds: {k}, {kinds}")
    anchors = (f"(SELECT * FROM {table} WHERE {label_col} IS NOT NULL"
               f" ORDER BY {id_col} ASC LIMIT {int(n_anchors)})")
    parts = []
    for kd in kinds:
        cmpop = "<>" if kd == "neg" else "="
        direction = "DESC" if kd == "neg" else "ASC"
        parts.append(f"""
SELECT __aid AS anchor_id, '{kd}' AS kind, __cid AS pair_id,
       round(__sim, {int(round_to)}) AS cosine_sim, __rn AS "rank"
FROM (
  SELECT a.{id_col} AS __aid, c.{id_col} AS __cid,
         round(list_cosine_similarity(c.{vec_col}::DOUBLE[],
                                      a.{vec_col}::DOUBLE[]), 6) AS __sim,
         row_number() OVER (
           PARTITION BY a.{id_col}
           ORDER BY round(list_cosine_similarity(c.{vec_col}::DOUBLE[],
                                                 a.{vec_col}::DOUBLE[]), 6)
                    {direction}, c.{id_col} ASC) AS __rn
  FROM {anchors} a JOIN {table} c
    ON c.{id_col} <> a.{id_col} AND c.{label_col} {cmpop} a.{label_col}
  WHERE c.{label_col} IS NOT NULL
) WHERE __rn <= {kk}""")
    return "\nUNION ALL\n".join(parts)
