"""Streaming operators (additive — reference has none, SURVEY §2.5).

The planar distance joins key their grid cells with the batch kernel in
:mod:`simba_spark.operators.distance_join`; the stream-static one IS the
batch grid join. Both stream-static kNN joins (L2 and haversine) run
the one kernel :func:`_static_knn`.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import in_circle_range, in_range


def streaming_range_filter(
    stream_df: DataFrame, cols: Sequence, low, high
) -> DataFrame:
    """Spatial range filter on a stream — identical Column predicate as
    batch (closed bounds), proving the predicates are engine-agnostic."""
    return stream_df.filter(in_range(cols, low, high))


def streaming_circle_range(
    stream_df: DataFrame, cols: Sequence, center, radius: float
) -> DataFrame:
    return stream_df.filter(in_circle_range(cols, center, radius))


def streaming_kmeans_assign(
    stream_df: DataFrame,
    centroids: Sequence[Sequence[float]],
    vec_col: str = "embedding",
    out_col: str = "cluster",
    route: str = "auto",
) -> DataFrame:
    """Score a stream against TRAINED k-means centroids (train in
    batch with :func:`..operators.clustering.kmeans`, ship the k x d
    list here): nearest-centroid index per arriving vector. Stateless
    per-row projection — no watermark, no state store, identical
    assignment kernel (and the same codegen/Arrow size routing) as
    batch, so stream scores match a batch re-score row-for-row.
    NULL / wrong-dimension vectors are dropped, mirroring the batch
    validity filter (they would otherwise crash the Arrow kernel and
    silently mis-assign on the codegen path)."""
    from ..operators.clustering import _assign

    d = len(centroids[0])
    valid = stream_df.filter(
        F.col(vec_col).isNotNull() & (F.size(vec_col) == d))
    return _assign(valid, vec_col, centroids, out_col, route=route)


def streaming_pca_project(
    stream_df: DataFrame,
    model,
    vec_col: str = "embedding",
    out_col: str = "pca",
) -> DataFrame:
    """Project arriving vectors onto a PCA basis fitted in batch
    (:func:`..operators.pca.fit_pca`): stateless constant-size
    aggregate-fold projection, identical arithmetic to the batch
    :func:`..operators.pca.pca_project`, so stream coordinates match a
    batch re-projection row-for-row. NULL / wrong-dimension vectors
    are dropped (batch parity)."""
    from ..operators.pca import pca_project

    return pca_project(stream_df, vec_col=vec_col, out_col=out_col,
                       model=model)


def streaming_exact_dedup(
    stream_df: DataFrame,
    text_col: str = "text",
    ts_col: Optional[str] = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup: drop events whose normalized-text
    fingerprint was already seen. With `ts_col`, the dedup state is
    bounded by the watermark (`dropDuplicatesWithinWatermark`) — the
    production shape for unbounded ingest; without it, state grows with
    distinct keys (only for bounded backfills).

    Same fingerprint as the batch `dedup.exact_dedup`, so a backfill and
    the live stream agree on what is a duplicate.
    """
    from ..operators.text import fingerprint

    with_fp = fingerprint(stream_df, text_col, "__fp")
    if ts_col is not None:
        return with_fp.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
            ["__fp"]
        ).drop("__fp")
    return with_fp.dropDuplicates(["__fp"]).drop("__fp")


def streaming_distance_join(
    stream_df: DataFrame,
    static_df: DataFrame,
    stream_cols: Sequence[str],
    static_cols: Sequence[str],
    radius: float,
    static_prefix: str = "s_",
) -> DataFrame:
    """Stream-static distance join: each streaming point joined to every
    static point within `radius` (closed bound) — the batch grid
    :func:`~simba_spark.operators.distance_join.distance_join` itself,
    stream on the point side: the static side explodes to the cells its
    r-buffer touches (once, re-used every micro-batch) and each stream
    row keys to its single cell, a stream-static equi-join with no
    stream-side shuffle.
    """
    from ..operators.distance_join import distance_join

    return distance_join(stream_df, static_df, stream_cols, static_cols,
                         radius, algo="grid", right_prefix=static_prefix)


def streaming_geo_distance_join(
    stream_df: DataFrame,
    static_df: DataFrame,
    radius_km: float,
    lat_s: str = "lat",
    lon_s: str = "lon",
    lat_t: str = "lat",
    lon_t: str = "lon",
    static_prefix: str = "s_",
    out_col: str = "dist_km",
) -> DataFrame:
    """Stream-static SPHERICAL distance join: each streaming (lat, lon)
    row joined to every static point within ``radius_km`` great-circle
    km (closed bound — the batch geo_distance_join contract).

    Physical shape mirrors :func:`streaming_distance_join` with the
    batch operator's latitude-banded grid: the STATIC side replicates
    to its 3x3 (band, lon-cell) neighborhood (done once, reused every
    micro-batch), the stream row computes its single (band, cell) key
    — a stateless stream-static equi-join with no stream-side shuffle;
    the exact haversine refine runs codegen'd. Coverage inherits the
    batch operator's spherical-cap cell-width bound (pole and
    antimeridian safe).
    """
    from ..operators.geo import _geo_keyed, haversine_km

    r = float(radius_km)
    if r < 0:
        raise ValueError("radius_km must be >= 0")
    static_p = static_df.select(
        [F.col(c).alias(f"{static_prefix}{c}") for c in static_df.columns]
    )
    plat, plon = static_prefix + lat_t, static_prefix + lon_t
    sg = _geo_keyed(static_p, plat, plon, r, replicate=True)
    st = _geo_keyed(stream_df, lat_s, lon_s, r, replicate=False)
    dist = haversine_km(
        F.col(lat_s).cast("double"), F.col(lon_s).cast("double"),
        F.col(plat).cast("double"), F.col(plon).cast("double"))
    return (
        st.join(sg, on=["__gb", "__gc"], how="inner")
        .withColumn(out_col, dist)
        .filter(F.col(out_col) <= r)
        .drop("__gb", "__gc")
    )


def streaming_knn_join(
    stream_df: DataFrame,
    static_df: DataFrame,
    stream_cols: Sequence[str],
    static_cols: Sequence[str],
    k: int,
    static_id: str = None,
    static_prefix: str = "s_",
    max_static_rows: int = 200_000,
) -> DataFrame:
    """Stream-static kNN join: each streaming point gets its k nearest
    static reference points by L2 distance (exact; ties by `static_id`),
    in output column ``dist`` — the :func:`_static_knn` kernel, sorting
    on squared distance.

    The right plan when the reference set is dimension-sized (sensor
    sites, POIs, centroids — the common streaming case);
    `max_static_rows` guards the driver collect. An unbounded static
    side should use :func:`streaming_distance_join` with a radius, or
    batch :func:`~simba_spark.operators.knn_join.knn_join` on a
    snapshot — kNN against 100 TB *per event* is not a streaming plan.
    """
    if len(stream_cols) != len(static_cols):
        raise ValueError(
            "streaming_knn_join: stream_cols/static_cols dimension mismatch")
    return _static_knn(
        "streaming_knn_join", stream_df, static_df, k, static_id,
        static_prefix, max_static_rows,
        [(f"d{i}", c) for i, c in enumerate(static_cols)],
        "dist2", lambda s: _sdist2(s, stream_cols), "dist", F.sqrt)


def streaming_geo_knn_join(
    stream_df: DataFrame,
    static_df: DataFrame,
    k: int,
    lat_s: str = "lat",
    lon_s: str = "lon",
    lat_t: str = "lat",
    lon_t: str = "lon",
    static_id: str = None,
    static_prefix: str = "s_",
    max_static_rows: int = 200_000,
    out_col: str = "dist_km",
) -> DataFrame:
    """Stream-static SPHERICAL kNN join: each streaming (lat, lon) row
    gets its k nearest static reference points by great-circle
    distance (exact; ties by ``static_id`` — the geo fleet-tracking
    top-k the euclidean :func:`streaming_knn_join` can't answer) — the
    :func:`_static_knn` kernel with the haversine inside its lambda.
    The per-element struct sorts by (dist_km, id), the same
    deterministic tie order as batch
    :func:`~simba_spark.operators.geo.geo_knn_join` with
    ``right_tiebreak=static_id`` — the distance arithmetic is
    term-identical, so replayed streams match the batch operator
    row-for-row.

    The right plan when the reference set is dimension-sized (sites,
    ports, POIs); ``max_static_rows`` guards the driver collect. An
    unbounded static side should use
    :func:`streaming_geo_distance_join` with a radius, or batch
    :func:`~simba_spark.operators.geo.geo_knn_join` on a snapshot —
    per-event kNN against 100 TB is not a streaming plan. Stateless
    projection: applying it to a BATCH frame runs the identical
    kernel (how the driver's oracle row checks it).
    """
    from ..operators.geo import haversine_km

    slat = F.col(lat_s).cast("double")
    slon = F.col(lon_s).cast("double")
    return _static_knn(
        "streaming_geo_knn_join", stream_df, static_df, k, static_id,
        static_prefix, max_static_rows, [("lat", lat_t), ("lon", lon_t)],
        "dist_km", lambda s: haversine_km(slat, slon, s["lat"], s["lon"]),
        out_col, lambda d: d)


def _static_knn(op, stream_df, static_df, k, static_id, static_prefix,
                max_static_rows, fields, key, key_of, out_col, out_of):
    """The stream-static kNN kernel behind ``op``. The static side is
    collected ONCE (at most ``max_static_rows``, else ValueError) into an
    array literal of structs — ``fields`` names each static coordinate
    column's struct field, ``id`` the ``static_id``. Per stream row the
    top-k is ``slice(array_sort(transform(...)), 1, k)`` + explode over
    (``key`` = ``key_of(struct)``, id) pairs — pure JVM expressions, no
    per-batch shuffle, no streaming state; sorting on (key, id) gives a
    deterministic tie order. Output: the stream row, the static id as
    ``static_prefix + static_id`` and ``out_of(key)`` as ``out_col``."""
    if static_id is None:
        raise ValueError(f"{op} requires static_id "
                         "(unique static key; also the tiebreak)")
    k = int(k)
    rows = (
        static_df.select(static_id, *[c for _, c in fields])
        .limit(max_static_rows + 1).collect()
    )
    if len(rows) > max_static_rows:
        raise ValueError(
            f"{op}: static side exceeds max_static_rows={max_static_rows}; "
            f"use {op.replace('knn', 'distance')} or a batch "
            f"{op[len('streaming_'):]} snapshot")
    ref = F.array(*[
        F.struct(
            *[F.lit(float(r[c])).alias(f) for f, c in fields],
            F.lit(r[static_id]).alias("id"),
        )
        for r in rows
    ])
    topk = F.slice(
        F.array_sort(
            F.transform(
                ref,
                lambda s: F.struct(key_of(s).alias(key), s["id"].alias("id")),
            )
        ),
        1,
        k,
    )
    out = stream_df.withColumn("__nn", F.explode(topk))
    return (
        out.withColumn(f"{static_prefix}{static_id}", F.col("__nn.id"))
        .withColumn(out_col, out_of(F.col(f"__nn.{key}")))
        .drop("__nn")
    )


def streaming_neardup_flag(
    stream_df: DataFrame,
    corpus_bands: DataFrame,
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_k: int = 5,
    seed: int = 42,
    hash_fn: str = "xxhash64",
    m_bits: int = 1 << 20,
    n_bloom_hashes: int = 3,
    bloom_seed: int = 777,
    out_col: str = "neardup_candidate",
) -> DataFrame:
    """Streaming near-dup GATE against a standing corpus: flags each
    arriving document whose MinHash-LSH band collides with the
    corpus's :func:`~simba_spark.operators.dedup.minhash_band_table`
    register — the live front of
    :func:`~simba_spark.operators.dedup.incremental_minhash_dedup`.

    Physical shape: the corpus (band, hash) keys fold into ONE Bloom
    bitset at query definition (m/8 bytes — a parameter, like a layout
    bounds table) inlined as a binary literal; per stream row the
    signature, its ``bands`` band hashes, and the bloom probes are all
    in-row Column arithmetic — ZERO joins, ZERO state, no shuffle, so
    it composes with any stream including other stateful stages.

    Semantics: ``out_col=False`` is definitive (Bloom filters have no
    false negatives — a clean doc is CLEAN and can flow straight to
    the sink); ``True`` marks a CANDIDATE (band collision, plus ~fpr
    bloom noise) to route to the exact batch verify
    (``incremental_minhash_dedup`` on the quarantined slice) — the
    standard gate/quarantine split. Rebuild the query to refresh the
    register after corpus appends.
    """
    from ..operators.dedup import minhash_signature
    from ..operators.pipeline import bloom_bits, bloom_probe

    if num_hashes % bands:
        raise ValueError("bands must divide num_hashes")
    r = num_hashes // bands
    key = F.concat_ws(":", F.col("__band").cast("string"),
                      F.col("__bh").cast("string"))
    bits = bloom_bits(corpus_bands, key, m_bits, n_bloom_hashes,
                      bloom_seed)
    sig = minhash_signature(F.col(text_col), num_hashes, shingle_k,
                            seed, hash_fn)
    work = stream_df.withColumn("__msig", sig)
    flag = F.lit(False)
    for b in range(bands):
        cw = "concat_ws(',', {})".format(
            ", ".join(f"CAST(__msig[{b * r + i}] AS STRING)"
                      for i in range(r)))
        if hash_fn == "md5long":
            bh = F.expr(
                f"CAST(conv(substring(md5(concat({cw}, '#{b}')), 1, 15),"
                " 16, 10) AS BIGINT)")
        else:
            bh = F.expr(f"xxhash64({cw}, {b})")
        k = F.concat_ws(":", F.lit(str(b)), bh.cast("string"))
        flag = flag | bloom_probe(bits, k, m_bits, n_bloom_hashes,
                                  bloom_seed)
    return work.withColumn(out_col, flag).drop("__msig")


def streaming_stream_distance_join(
    left_stream: DataFrame,
    right_stream: DataFrame,
    left_cols: Sequence[str],
    right_cols: Sequence[str],
    radius: float,
    left_ts: str = "ts",
    right_ts: str = "ts",
    watermark: str = "10 minutes",
    time_bound: str = "10 minutes",
    left_prefix: str = "a_",
    right_prefix: str = "b_",
) -> DataFrame:
    """Stream-STREAM distance join: pairs of events from two live
    streams within `radius` of each other (closed) AND within
    `time_bound` of each other in event time.

    Physical shape: the left stream explodes to every grid cell its
    r-buffer touches, the right stream computes its single cell — the
    cell equality becomes the stream-stream join's state key (so state
    is hash-partitioned by cell, same key as the batch grid join), the
    watermarked event-time bound lets Spark EVICT state (without it a
    stream-stream join buffers forever), and the exact-distance refine
    runs codegen'd on the survivors. Symmetric-hash-join semantics come
    from Spark's stream-stream inner join; both inputs must carry event
    time."""
    from ..functions import dist2_cols
    from ..operators.distance_join import _buffer_cell, _grid_keyed

    r = float(radius)
    assert r >= 0.0
    assert len(left_cols) == len(right_cols)

    lp = left_stream.select(
        [F.col(c).alias(f"{left_prefix}{c}") for c in left_stream.columns]
    ).withWatermark(f"{left_prefix}{left_ts}", watermark)
    rp = right_stream.select(
        [F.col(c).alias(f"{right_prefix}{c}") for c in right_stream.columns]
    ).withWatermark(f"{right_prefix}{right_ts}", watermark)
    lcols = [f"{left_prefix}{c}" for c in left_cols]
    rcols = [f"{right_prefix}{c}" for c in right_cols]
    lts, rts = f"{left_prefix}{left_ts}", f"{right_prefix}{right_ts}"

    s = F.lit(_buffer_cell(r))
    lg = _grid_keyed(lp, [F.col(c) - F.lit(r) for c in lcols], s,
                     hi=[F.col(c) + F.lit(r) for c in lcols])
    rg = _grid_keyed(rp, [F.col(c) for c in rcols], s)
    time_ok = F.expr(
        f"`{rts}` >= `{lts}` - INTERVAL {time_bound} AND "
        f"`{rts}` <= `{lts}` + INTERVAL {time_bound}"
    )
    pred = dist2_cols(lcols, rcols) <= F.lit(r * r)
    return lg.join(rg, (lg["__cell"] == rg["__cell"]) & time_ok & pred,
                   "inner").drop("__cell")


def streaming_stream_geo_distance_join(
    left_stream: DataFrame,
    right_stream: DataFrame,
    radius_km: float,
    lat_l: str = "lat",
    lon_l: str = "lon",
    lat_r: str = "lat",
    lon_r: str = "lon",
    left_ts: str = "ts",
    right_ts: str = "ts",
    watermark: str = "10 minutes",
    time_bound: str = "10 minutes",
    left_prefix: str = "a_",
    right_prefix: str = "b_",
    out_col: str = "dist_km",
) -> DataFrame:
    """Stream-STREAM spherical distance join: pairs of events from two
    live streams within ``radius_km`` great-circle km AND within
    ``time_bound`` of each other in event time — the geo mirror of
    :func:`streaming_stream_distance_join`.

    Physical shape: the left stream replicates to its 3x3 (band,
    lon-cell) neighborhood of the batch operator's banded grid, the
    right stream keys once — the (band, cell) equality is the
    symmetric-hash state key (state hash-partitioned exactly like the
    batch join's shuffle), the watermarked event-time bound lets Spark
    EVICT state, and the haversine refine runs codegen'd on survivors.
    Coverage inherits the batch operator's spherical-cap cell-width
    bound (pole and antimeridian safe)."""
    from ..operators.geo import _geo_keyed, haversine_km

    r = float(radius_km)
    if r < 0:
        raise ValueError("radius_km must be >= 0")
    lp = left_stream.select(
        [F.col(c).alias(f"{left_prefix}{c}") for c in left_stream.columns]
    ).withWatermark(f"{left_prefix}{left_ts}", watermark)
    rp = right_stream.select(
        [F.col(c).alias(f"{right_prefix}{c}") for c in right_stream.columns]
    ).withWatermark(f"{right_prefix}{right_ts}", watermark)
    llat, llon = left_prefix + lat_l, left_prefix + lon_l
    rlat, rlon = right_prefix + lat_r, right_prefix + lon_r
    lts, rts = f"{left_prefix}{left_ts}", f"{right_prefix}{right_ts}"

    lg = (
        _geo_keyed(lp, llat, llon, r, replicate=True)
        .withColumnRenamed("__gb", "__lgb")
        .withColumnRenamed("__gc", "__lgc")
    )
    rg = (
        _geo_keyed(rp, rlat, rlon, r, replicate=False)
        .withColumnRenamed("__gb", "__rgb")
        .withColumnRenamed("__gc", "__rgc")
    )
    time_ok = F.expr(
        f"`{rts}` >= `{lts}` - INTERVAL {time_bound} AND "
        f"`{rts}` <= `{lts}` + INTERVAL {time_bound}"
    )
    dist = haversine_km(
        F.col(llat).cast("double"), F.col(llon).cast("double"),
        F.col(rlat).cast("double"), F.col(rlon).cast("double"))
    out = lg.join(
        rg,
        (F.col("__lgb") == F.col("__rgb"))
        & (F.col("__lgc") == F.col("__rgc"))
        & time_ok & (dist <= r),
        "inner",
    ).withColumn(out_col, dist)
    return out.drop("__lgb", "__lgc", "__rgb", "__rgc")


def streaming_stream_knn_join(
    left_stream: DataFrame,
    right_stream: DataFrame,
    left_cols: Sequence[str],
    right_cols: Sequence[str],
    k: int,
    left_id: str = "event_id",
    right_id: str = "event_id",
    left_ts: str = "ts",
    right_ts: str = "ts",
    window: str = "10 minutes",
    watermark: str = "10 minutes",
    left_prefix: str = "a_",
    right_prefix: str = "b_",
) -> DataFrame:
    """Stream-STREAM kNN join: for each left event, its k nearest right
    events within the SAME tumbling event-time window (ties by right
    id). The missing combination after stream-static kNN and
    stream-stream distance joins — and the semantic that actually makes
    sense on two unbounded streams: "nearest" must be scoped to a time
    window or the answer never finalizes.

    Physical shape — two chained stateful operators, both
    window-keyed, letting the engine manage all state (Spark 3.4+
    multiple-stateful-operator support): (1) a watermarked
    stream-stream INNER join on tumbling-window equality (symmetric
    hash state, evicted when the watermark passes the window), then
    (2) a windowed aggregation per left event packing (dist, right id)
    structs — ``slice(array_sort(collect_list(...)), 1, k)`` — that
    emits exactly-k rows per left event when the window closes
    (append mode). No custom state code, no per-batch collect; state
    per window is bounded by the window's event volume.

    Output: (window_start, left id, right id, dist), one row per
    (left event, neighbor). A left event with no same-window right
    events emits nothing (inner-join semantics, matching batch kNN
    over a window-partitioned pairing).
    """
    k = int(k)
    d = len(left_cols)
    assert d == len(right_cols)
    lp = left_stream.select(
        [F.col(c).alias(f"{left_prefix}{c}") for c in left_stream.columns]
    ).withWatermark(f"{left_prefix}{left_ts}", watermark)
    rp = right_stream.select(
        [F.col(c).alias(f"{right_prefix}{c}") for c in right_stream.columns]
    ).withWatermark(f"{right_prefix}{right_ts}", watermark)
    lid = f"{left_prefix}{left_id}"
    rid = f"{right_prefix}{right_id}"
    lcols = [f"{left_prefix}{c}" for c in left_cols]
    rcols = [f"{right_prefix}{c}" for c in right_cols]

    lw = lp.withColumn("__win", F.window(F.col(f"{left_prefix}{left_ts}"), window))
    rw = rp.withColumn("__win", F.window(F.col(f"{right_prefix}{right_ts}"), window))
    joined = lw.join(rw, on="__win", how="inner")

    from ..functions import dist2_cols

    dist = F.sqrt(dist2_cols(lcols, rcols))
    packed = F.struct(dist.alias("dist"), F.col(rid).alias("rid"))
    agg = (
        joined.groupBy("__win", F.col(lid))
        .agg(F.slice(F.array_sort(F.collect_list(packed)), 1, k).alias("__tk"))
        .select(
            F.col("__win.start").alias("window_start"),
            F.col(lid),
            F.explode("__tk").alias("__s"),
        )
        .select(
            "window_start",
            lid,
            F.col("__s.rid").alias(rid),
            F.col("__s.dist").alias("dist"),
        )
    )
    return agg


def streaming_interval_join(
    point_stream: DataFrame,
    static_intervals: DataFrame,
    start_col: str,
    end_col: str,
    point_col: str,
    bin_width=None,
    interval_prefix: str = "a_",
    stream_prefix: str = "b_",
) -> DataFrame:
    """Stream-STATIC interval join: each streaming point paired with
    every static interval containing it (closed bounds) — event-in-
    session, reading-in-window, live lookup against a calendar table.

    The batch :func:`simba_spark.operators.interval.interval_join` is
    fully lazy (its two-tier width stats are a broadcast subplan, not a
    driver job), so it composes with a stream directly: the stream side
    computes its bin key statelessly per micro-batch and equi-joins the
    binned static side — no streaming state at all, same plan family as
    the batch op. The interval side must be static/bounded (its
    min/avg/max lengths define the tiers); for two live streams use
    :func:`streaming_asof_join` or the windowed joins instead.
    """
    assert not static_intervals.isStreaming, (
        "the interval side must be static — its length stats define the "
        "bin tiers; use streaming_asof_join for stream-stream temporal "
        "pairing"
    )
    from ..operators.interval import interval_join

    return interval_join(
        static_intervals,
        point_stream,
        start_col,
        end_col,
        point_col,
        bin_width=bin_width,
        left_prefix=interval_prefix,
        right_prefix=stream_prefix,
    )


def streaming_static_asof_join(
    stream_df: DataFrame,
    static_df: DataFrame,
    on,
    stream_ts: str = "ts",
    static_ts: str = "ts",
    right_prefix: str = "r_",
    tiebreak_col: Optional[str] = None,
    max_static_rows: int = 1_000_000,
) -> DataFrame:
    """Stream-STATIC as-of join (Flink's temporal-table lookup): each
    streaming event enriched with the static row whose time is the
    greatest at-or-before the event's, per key — a live feed against a
    versioned dimension snapshot.

    Physical shape: the static side aggregates into per-key
    time-sorted arrays of (time, tiebreak, payload) structs — a
    dimension-sized frame — which broadcast-joins to the stream on the
    key (no streaming state, no shuffle on the stream side); each event
    takes the last array element at-or-before its time via
    element_at(filter(...), -1), pure JVM expressions. The static side
    must be dimension-sized (`max_static_rows` guard); an unbounded
    right side belongs to :func:`streaming_asof_join` (stream-stream,
    lag-bounded state) instead. Ties at equal time resolve to the
    greatest `tiebreak_col`.

    Output: all stream columns plus `{right_prefix}{col}` for every
    non-key static column; unmatched events keep NULLs (left join).
    """
    keys = [on] if isinstance(on, str) else list(on)
    assert not static_df.isStreaming, (
        "the right side must be static — use streaming_asof_join for "
        "stream-stream temporal pairing"
    )
    for h in ("__arr", "__m", "__t", "__tb"):
        if h in stream_df.columns or h in static_df.columns:
            raise ValueError(f"reserved column name {h!r} in input")
    if tiebreak_col is not None and tiebreak_col not in static_df.columns:
        raise ValueError(f"tiebreak_col {tiebreak_col!r} not in static side")
    rpay = [c for c in static_df.columns if c not in keys]
    collide = {right_prefix + c for c in rpay} & set(stream_df.columns)
    if collide:
        raise ValueError(
            f"output columns {sorted(collide)} collide with stream columns — "
            "pick a different right_prefix"
        )
    # bounded probe (limit max+1), not a full count: the guard's cost
    # must not scale with the static table it is guarding against
    n_static = static_df.limit(max_static_rows + 1).count()
    assert n_static <= max_static_rows, (
        f"static side exceeds max_static_rows={max_static_rows}; "
        "use streaming_asof_join (stream-stream) for unbounded right "
        "sides"
    )
    # native tiebreak type (a long cast would NULL string ids); NULL
    # static times can never match, drop them up front
    static_df = static_df.filter(F.col(static_ts).isNotNull())
    tb = F.col(tiebreak_col) if tiebreak_col else F.lit(0).cast("long")
    packed = F.struct(
        F.col(static_ts).alias("__t"),
        tb.alias("__tb"),
        *[F.col(c).alias(c) for c in rpay],
    )

    # comparator sorts on (time, tiebreak) ONLY — a plain array_sort
    # would require the WHOLE payload struct to be orderable and reject
    # map-typed payload columns
    def _cmp(a, b):
        return (
            F.when(a["__t"] < b["__t"], F.lit(-1))
            .when(a["__t"] > b["__t"], F.lit(1))
            .when(a["__tb"].isNull() & b["__tb"].isNull(), F.lit(0))
            .when(a["__tb"].isNull(), F.lit(-1))
            .when(b["__tb"].isNull(), F.lit(1))
            .when(a["__tb"] < b["__tb"], F.lit(-1))
            .when(a["__tb"] > b["__tb"], F.lit(1))
            .otherwise(F.lit(0))
        )

    arr = static_df.groupBy(*keys).agg(
        F.array_sort(F.collect_list(packed), _cmp).alias("__arr")
    )
    joined = stream_df.join(F.broadcast(arr), on=keys, how="left")
    # try_element_at: an event before every snapshot (or an unseen key)
    # has an empty candidate array — NULL match, not an ANSI index error
    last = F.try_element_at(
        F.filter(F.col("__arr"), lambda s: s["__t"] <= F.col(stream_ts)),
        F.lit(-1),
    )
    out = joined.withColumn("__m", last).drop("__arr")
    return out.select(
        *stream_df.columns,
        *[F.col("__m")[c].alias(f"{right_prefix}{c}") for c in rpay],
    )


def streaming_asof_join(
    left_stream: DataFrame,
    right_stream: DataFrame,
    on,
    left_id: str = "event_id",
    right_id: str = "event_id",
    left_ts: str = "ts",
    right_ts: str = "ts",
    max_lag: str = "10 minutes",
    window: str = "10 minutes",
    watermark: str = "10 minutes",
    left_prefix: str = "a_",
    right_prefix: str = "b_",
) -> DataFrame:
    """Stream-STREAM as-of (temporal) join: for each left event, the
    same-key right event with the greatest event time at-or-before the
    left's, looking back at most `max_lag` — the live form of
    :func:`simba_spark.operators.asof.asof_join` (backward, inclusive,
    tolerance=max_lag, how='inner'; ties toward the greatest right id).
    Flink calls this a temporal join; the lag bound is what makes it
    answerable on unbounded streams (an unbounded lookback could never
    evict state).

    Physical shape — two chained stateful operators, all state
    engine-managed: (1) a watermarked stream-stream INNER join on key
    equality with the time-range condition
    ``l.ts - max_lag <= r.ts <= l.ts`` (symmetric hash state keyed by
    the join keys, rows evicted once the watermark passes their
    reach-back), then (2) a tumbling-window aggregation over the LEFT
    event time taking, per left event,
    ``element_at(array_sort(collect_list(struct(r.ts, r.id))), -1)`` —
    the latest-by-(time, id) candidate — emitted in append mode when
    the left event's window closes. No custom state code, no
    per-batch collect.

    Output: (window_start, prefixed key columns, {left_prefix}{left_id},
    {left_prefix}{left_ts}, {right_prefix}{right_id},
    {right_prefix}{right_ts}), one row per matched left event (ids need
    only be unique per key — the grouping includes the join keys). Left events with no right event in the lag
    window emit nothing (inner semantics — matching the batch operator
    with ``how='inner'``).
    """
    keys = [on] if isinstance(on, str) else list(on)
    lp = left_stream.select(
        [F.col(c).alias(f"{left_prefix}{c}") for c in left_stream.columns]
    ).withWatermark(f"{left_prefix}{left_ts}", watermark)
    rp = right_stream.select(
        [F.col(c).alias(f"{right_prefix}{c}") for c in right_stream.columns]
    ).withWatermark(f"{right_prefix}{right_ts}", watermark)
    lid, lts = f"{left_prefix}{left_id}", f"{left_prefix}{left_ts}"
    rid, rts = f"{right_prefix}{right_id}", f"{right_prefix}{right_ts}"

    cond = F.lit(True)
    for k in keys:
        cond = cond & (F.col(f"{left_prefix}{k}") == F.col(f"{right_prefix}{k}"))
    cond = cond & F.expr(
        f"`{rts}` <= `{lts}` AND `{rts}` >= `{lts}` - INTERVAL {max_lag}"
    )
    joined = lp.join(rp, cond, "inner")

    latest = F.element_at(
        F.array_sort(
            F.collect_list(
                F.struct(F.col(rts).alias("rts"), F.col(rid).alias("rid"))
            )
        ),
        -1,
    )
    # group on the window + join keys + left id (an id unique only
    # within a key must not merge across keys); the raw left
    # event-time column must not ALSO appear as a grouping key (two
    # event-time columns in one stateful operator is rejected) — it is
    # constant per left event, so max() re-surfaces it from inside the
    # aggregate
    kcols = [f"{left_prefix}{k}" for k in keys]
    return (
        joined.groupBy(
            F.window(F.col(lts), window).alias("__win"),
            *[F.col(c) for c in kcols],
            F.col(lid),
        )
        .agg(F.max(F.col(lts)).alias(lts), latest.alias("__last"))
        .select(
            F.col("__win.start").alias("window_start"),
            *kcols,
            lid,
            lts,
            F.col("__last.rid").alias(rid),
            F.col("__last.rts").alias(rts),
        )
    )


def _sdist2(s, stream_cols):
    d2 = None
    for i, c in enumerate(stream_cols):
        t = (F.col(c).cast("double") - s[f"d{i}"]) ** 2
        d2 = t if d2 is None else d2 + t
    return d2


def windowed_event_counts(
    stream_df: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    window: str = "5 minutes",
    slide: str = "5 minutes",
    watermark: str = "10 minutes",
    value_col: Optional[str] = "value",
) -> DataFrame:
    """Watermarked tumbling/sliding window counts — the canonical
    late-data-tolerant streaming aggregation. `value_col` adds a sum
    aggregate; pass None for streams without a numeric value column."""
    aggs = [F.count(F.lit(1)).alias("n_events")]
    if value_col is not None:
        aggs.append(F.sum(value_col).alias(f"sum_{value_col}"))
    return (
        stream_df.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window, slide), F.col(key_col))
        .agg(*aggs)
    )


def streaming_windowed_hll(
    stream_df: DataFrame,
    ts_col: str = "ts",
    col: str = "user_id",
    key_col: Optional[str] = "event_type",
    window: str = "5 minutes",
    watermark: str = "10 minutes",
    p: int = 12,
    seed: int = 42,
) -> DataFrame:
    """Per-window approximate distinct counts on a stream — the same
    md5-register HyperLogLog as the batch ``sketches.hll_distinct``
    (identical estimates over replayed data, tested), with
    watermark-bounded state.

    The state story is the reason to sketch a stream: exact streaming
    COUNT(DISTINCT) must hold every distinct key per open window; the
    register form holds at most 2^p longs per (window, key) no matter
    how many users flow through. Plan: two chained stateful
    aggregations in append mode (register max keyed by (window, key,
    bucket), then the rollup keyed by (window, key)) — Spark emits both
    at watermark close; the estimate arithmetic is identical to the
    batch operator so replay equivalence is exact.
    """
    from ..operators.sketches import hll_estimate, hll_register_cols

    assert 4 <= p <= 18
    bucket, rho = hll_register_cols(col, seed, p)
    keys = [F.col(key_col)] if key_col else []
    regs = (
        stream_df.withWatermark(ts_col, watermark)
        # NULL keys excluded — COUNT(DISTINCT) semantics, matching the
        # batch hll_sketch this operator must replay-match
        .filter(F.col(col).isNotNull())
        .select(
            F.col(ts_col),
            *keys,
            bucket.alias("__hll_b"),
            rho.alias("__hll_r"),
        )
        .groupBy(F.window(F.col(ts_col), window), *keys, F.col("__hll_b"))
        .agg(F.max("__hll_r").alias("__hll_m"))
    )
    group_by = ["window"] + ([key_col] if key_col else [])
    return hll_estimate(regs, group_by=group_by, p=p)


def streaming_windowed_quantile(
    stream_df: DataFrame,
    ts_col: str = "ts",
    col: str = "value",
    key_col: Optional[str] = "event_type",
    window: str = "5 minutes",
    watermark: str = "10 minutes",
    qs=(0.5, 0.9),
    k: int = 256,
    id_col: str = "event_id",
    seed: int = 42,
) -> DataFrame:
    """Per-window quantile estimates on a stream via the bucketed
    quantile sample (``sketches.quantile_sketch_bucketed`` — identical
    derivation, single-sited): each of k hash buckets keeps its
    min-(h, v) row, an algebraic MIN the state store can maintain
    incrementally, so state is ≤ k structs per open (window, key)
    where an exact streaming percentile would have to hold every row.

    Plan: two chained stateful aggregations in append mode (per-bucket
    struct-min keyed by (window, key, bucket), then the
    interpolation rollup keyed by (window, key)); rows emit at
    watermark close. Estimates are IDENTICAL to running the batch
    bucketed sketch over the same rows (replay-equivalence tested) —
    the same batch-parity contract as ``streaming_windowed_hll``.
    """
    from ..operators.sketches import quantile_bucket_cols, quantile_estimate

    keep, bucket, hv = quantile_bucket_cols(col, id_col, k, seed)
    keys = [F.col(key_col)] if key_col else []
    sample = (
        stream_df.withWatermark(ts_col, watermark)
        .filter(keep)
        .select(F.col(ts_col), *keys, bucket, hv)
        .groupBy(F.window(F.col(ts_col), window), *keys, F.col("__qs_k"))
        .agg(F.min("__hv").alias("__hv"))
        .select("window", *([key_col] if key_col else []),
                F.col("__hv.v").alias("__qs_v"))
    )
    group_by = ["window"] + ([key_col] if key_col else [])
    return quantile_estimate(sample, qs=qs, group_by=group_by)


def streaming_trending_terms(
    stream_df: DataFrame,
    ts_col: str = "ts",
    text_col: str = "text",
    window: str = "5 minutes",
    watermark: str = "10 minutes",
    k: int = 10,
    min_len: int = 1,
) -> DataFrame:
    """Per event-time window, the top-``k`` tokens by count — live
    trending terms over a document/message stream. Emits
    ``(window, term, n, rank)`` at watermark close, rank 1 = hottest,
    ties broken term-ascending (fully deterministic, replay ≡ batch).

    Plan: stateless tokenize-and-explode (the batch
    ``text.term_stats`` whitespace tokenizer), then TWO chained
    stateful aggregations in append mode — (window, term) counts,
    then per-window top-k via ``slice(array_sort(collect_list(
    struct(-n, term))))`` (the ``streaming_stream_knn_join`` window
    top-k shape). State: open windows hold their distinct-term counts
    (bounded by vocabulary per window, the honest cost of exact
    counts — for unbounded vocabularies at extreme scale compose
    :func:`streaming_windowed_cm` + a candidate list instead), plus k
    structs per window in the second stage.
    """
    from ..operators.text import TOKEN_SPLIT_RE

    k = int(k)
    tok = (
        stream_df.withWatermark(ts_col, watermark)
        .select(
            F.col(ts_col),
            F.explode(
                F.split(F.lower(F.trim(F.col(text_col))),
                        TOKEN_SPLIT_RE)).alias("term"),
        )
        .filter(F.length("term") >= int(min_len))
    )
    counts = (
        tok.groupBy(F.window(F.col(ts_col), window), "term")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    topk = (
        counts.groupBy("window")
        .agg(F.slice(
            F.array_sort(F.collect_list(
                F.struct((-F.col("n")).alias("negn"), "term"))),
            1, k).alias("__top"))
        .select("window", F.posexplode("__top").alias("__r", "__t"))
        .select(
            "window",
            F.col("__t.term").alias("term"),
            (-F.col("__t.negn")).alias("n"),
            (F.col("__r") + 1).alias("rank"),
        )
    )
    return topk


def streaming_windowed_cm(
    stream_df: DataFrame,
    ts_col: str = "ts",
    col: str = "user_id",
    key_col: Optional[str] = "event_type",
    window: str = "5 minutes",
    watermark: str = "10 minutes",
    depth: int = 4,
    width: int = 1024,
    seed: int = 42,
) -> DataFrame:
    """Per-window Count-Min sketch rows on a stream — the same counter
    grid as the batch ``sketches.cm_sketch`` (identical cells over
    replayed data, tested), with watermark-bounded state ≤ depth·width
    counters per open (window, key) where exact per-value streaming
    counts hold every distinct value.

    Emits the MERGEABLE form (``window, key…, __cm_d, __cm_b,
    __cm_n``) at watermark close: persist these per window and
    ``cm_merge``/``cm_estimate`` them later — the streaming leg of the
    daily-sketch workflow (frequencies over any window union without
    re-reading raw events). One stateful aggregation in append mode.
    """
    from ..operators.sketches import _hash60

    keys = [F.col(key_col)] if key_col else []
    buckets = F.array(*[
        F.pmod(_hash60(col, seed + j), F.lit(int(width)))
        for j in range(int(depth))
    ])
    return (
        stream_df.withWatermark(ts_col, watermark)
        .filter(F.col(col).isNotNull())
        .select(F.col(ts_col), *keys,
                F.posexplode(buckets).alias("__cm_d", "__cm_b"))
        .groupBy(F.window(F.col(ts_col), window), *keys,
                 F.col("__cm_d"), F.col("__cm_b"))
        .agg(F.count(F.lit(1)).alias("__cm_n"))
    )


def streaming_volume_anomaly(
    stream_df: DataFrame,
    baseline: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    window: str = "5 minutes",
    watermark: str = "10 minutes",
    z_threshold: float = 2.0,
    round_to: int = 6,
) -> DataFrame:
    """Live event-volume anomaly scoring: watermarked window counts on
    the stream, z-scored against a BATCH-fitted per-key baseline
    (``operators.analytics.volume_baseline`` — the offline-train /
    online-score deployment shape). Emits only flagged windows:
    ``(window, key, n, z)`` with |z| > ``z_threshold``.

    State story: one stateful aggregation keyed by (window, key) —
    bounded by the watermark; the baseline join is stream-static
    (stateless) against a #keys-row frame, broadcast. Replay
    equivalence: over a replayed stream the emitted rows equal the
    batch window counts scored against the same baseline (tested).
    """
    counts = (
        stream_df.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window), F.col(key_col))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    bl = baseline.select(F.col("grp").alias(key_col), "__mu", "__sd")
    # Materialize the baseline as a LITERAL static frame. Joining the
    # lazy aggregate plan (or any F.broadcast-hinted frame) to the
    # post-aggregation stream silently emits ZERO rows at watermark
    # close on Spark 4.1 — observed, tested. The collect is bounded by
    # #keys rows (parameter-sized, same contract as the bloom bitset),
    # and freezing the baseline at query start is the semantics an
    # offline-fitted scorer wants anyway.
    spark = baseline.sparkSession
    bl = spark.createDataFrame(bl.collect(), bl.schema)
    z = (F.col("n") - F.col("__mu")) / F.col("__sd")
    return (
        counts.join(bl, key_col)
        .filter(
            F.col("__sd").isNotNull()
            & (F.col("__sd") > 0)
            & (F.abs(z) > float(z_threshold))
        )
        .select("window", key_col, "n", F.round(z, round_to).alias("z"))
    )


def streaming_psi(
    stream_df: DataFrame,
    ref: DataFrame,
    col: str,
    id_col: str,
    ts_col: str = "ts",
    window: str = "5 minutes",
    watermark: str = "10 minutes",
    nbins: int = 10,
    k: int = 2048,
    seed: int = 42,
    eps: float = 1e-6,
    round_to: int = 6,
) -> DataFrame:
    """Live feature-drift scoring: per event-time window, the PSI of
    the stream's ``col`` distribution against a BATCH-fitted reference
    (``operators.stats.psi_drift`` fit offline / scored online — the
    train-vs-serve drift monitor as a stream). Emits one row per
    (window, bin): ``(window, bin, n_cur, p_cur, p_ref, psi_term,
    psi_total)`` — ``psi_total`` repeats the window's summed PSI on
    every bin row so a sink can alert on it without re-aggregating.

    State story: the reference cuts and bin shares are collected at
    query start (nbins-bounded, the same frozen-baseline contract as
    ``streaming_volume_anomaly``) and INLINED as literals, so the
    stream side is ONE watermark-bounded stateful aggregation per
    window whose state row holds nbins conditional counters — no
    stream-stream join, no second stateful stage, bin assignment is a
    zero-shuffle codegen comparison sum. Replay equivalence with the
    batch operator is tested bin-for-bin.
    """
    from ..operators.stats import psi_drift

    nbins = int(nbins)
    # fit: reuse the batch operator against an empty current side so
    # the cut/share derivation cannot drift from psi_drift's
    fit = psi_drift(ref, ref.limit(0), col, id_col, nbins=nbins, k=k,
                    seed=seed, eps=eps).select("bin", "p_ref").collect()
    p_ref = {r["bin"]: r["p_ref"] for r in fit}
    from ..operators.sketches import quantile_digest
    qs = tuple(i / nbins for i in range(1, nbins))
    cut_row = quantile_digest(ref, col, id_col, qs=qs, k=k,
                              seed=seed).collect()
    if not cut_row or any(v is None for v in cut_row[0]):
        raise ValueError(
            "streaming_psi: reference snapshot has no usable values to "
            "fit bin edges from"
        )
    cuts = list(cut_row[0])
    x = F.col(col).cast("double")
    bin_expr = None
    for c in cuts:
        t = (x >= F.lit(float(c))).cast("int")
        bin_expr = t if bin_expr is None else bin_expr + t
    counters = [
        F.sum((F.col("__bin") == i).cast("long")).alias(f"__n{i}")
        for i in range(nbins)
    ]
    agg = (
        stream_df.withWatermark(ts_col, watermark)
        .filter(x.isNotNull() & ~F.isnan(x))
        .select(F.col(ts_col), bin_expr.alias("__bin"))
        .groupBy(F.window(F.col(ts_col), window))
        .agg(*counters, F.count(F.lit(1)).alias("__tot"))
    )
    e = float(eps)
    terms, term_exprs = [], []
    for i in range(nbins):
        pc = F.col(f"__n{i}").cast("double") / F.col("__tot").cast("double")
        pcc = F.greatest(pc, F.lit(e))
        prc = F.lit(max(p_ref[i], e))
        term = F.round((pcc - prc) * F.log(pcc / prc), int(round_to))
        term_exprs.append(term)
        terms.append(
            F.struct(
                F.lit(i).alias("bin"),
                F.col(f"__n{i}").alias("n_cur"),
                pc.alias("p_cur"),
                F.lit(p_ref[i]).alias("p_ref"),
                term.alias("psi_term"),
            )
        )
    # the window's total is a fixed-order sum of the SAME nbins term
    # expressions, computed on the pre-explode row (window functions
    # are not available on streaming frames — and aren't needed: every
    # bin lives in this one aggregate row)
    total = term_exprs[0]
    for t in term_exprs[1:]:
        total = total + t
    return agg.select(
        "window",
        F.explode(F.array(*terms)).alias("__t"),
        F.round(total, int(round_to)).alias("psi_total"),
    ).select("window", "__t.*", "psi_total")


def streaming_cusum(
    stream_df: DataFrame,
    baseline: DataFrame,
    key_col: str = "event_type",
    bucket_col: str = "bucket",
    val_col: str = "n_events",
    slack: float = 0.5,
    threshold: float = 4.0,
    round_to: int = 6,
) -> DataFrame:
    """Streaming two-sided CUSUM change-point scoring as a CUSTOM
    STATEFUL operator: the textbook recursion
    ``S_t = max(0, S_{t-1} + z_t - slack)`` runs live, keyed per
    series, against a BATCH-fitted baseline
    (``operators.timeseries.cusum_baseline`` — the offline-train /
    online-score shape shared with ``streaming_psi``). Input is a
    stream of already-bucketed series points (key, bucket, value) —
    e.g. a foreachBatch-maintained rollup; unlike the window-count
    wrappers this keeps the op composable with any upstream
    bucketing.

    Emits ``(key, bucket, z, cusum_up, cusum_dn, alarm, late)`` per
    point. State per key is THREE numbers (last bucket, S_up, S_dn) —
    constant size, no watermark needed. Points are folded in bucket
    order within each micro-batch; a point at or before the key's
    last-seen bucket cannot replay the recursion and is emitted with
    ``late = 1`` and NULL scores (the monitoring-stream drop-late
    contract, made visible instead of silent).

    Replay equivalence: over an in-order replay the emitted
    up/dn/alarm track batch ``cusum`` of the same series scored with
    the same baseline (tested; float agreement to window-vs-recursion
    reassociation, ~1e-12).

    Keys whose baseline row is missing or has NULL/zero sd score with
    z = 0 (the batch operator's constant-series contract).
    """
    import pandas as pd

    from pyspark.sql.types import (DoubleType, LongType, StringType,
                                   StructField, StructType)

    bl = {
        str(r[0]): (
            float(r[1]) if r[1] is not None else None,
            float(r[2]) if r[2] is not None else None,
        )
        for r in baseline.select(key_col, "__mu", "__sd").collect()
    }
    s = float(slack)
    h = float(threshold)
    rt = int(round_to)

    out_schema = StructType([
        StructField(key_col, StringType()),
        StructField(bucket_col, LongType()),
        StructField("z", DoubleType()),
        StructField("cusum_up", DoubleType()),
        StructField("cusum_dn", DoubleType()),
        StructField("alarm", LongType()),
        StructField("late", LongType()),
    ])
    state_schema = StructType([
        StructField("last_b", LongType()),
        StructField("s_up", DoubleType()),
        StructField("s_dn", DoubleType()),
    ])

    def fn(key, pdf_iter, state):
        (k,) = key
        k = str(k)
        if state.exists:
            last_b, s_up, s_dn = state.get
        else:
            last_b, s_up, s_dn = None, 0.0, 0.0
        mu, sd = bl.get(k, (None, None))
        out = []
        pts = []
        for pdf in pdf_iter:
            for b, v in zip(pdf[bucket_col], pdf[val_col]):
                if not (pd.isna(b) or pd.isna(v)):
                    pts.append((int(b), float(v)))
        pts.sort()
        for b, v in pts:
            if last_b is not None and b <= last_b:
                out.append((k, b, None, None, None, None, 1))
                continue
            z = ((v - mu) / sd) if (mu is not None and sd) else 0.0
            s_up = max(0.0, s_up + z - s)
            s_dn = max(0.0, s_dn - z - s)
            last_b = b
            out.append((
                k, b, round(z, rt), round(s_up, rt), round(s_dn, rt),
                1 if (s_up > h or s_dn > h) else 0, 0,
            ))
        state.update((last_b, s_up, s_dn))
        yield pd.DataFrame(
            out,
            columns=[key_col, bucket_col, "z", "cusum_up", "cusum_dn",
                     "alarm", "late"],
        )

    return stream_df.groupBy(F.col(key_col)).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf="NoTimeout",
    )


def streaming_windowed_ohlc(
    stream_df: DataFrame,
    ts_col: str = "ts",
    val_col: str = "value",
    key_cols: Optional[Sequence[str]] = None,
    window: str = "5 minutes",
    watermark: str = "10 minutes",
    tiebreak_col: Optional[str] = None,
    cents: bool = True,
) -> DataFrame:
    """Per-(key, event-time window) OHLC bars on a stream — the live
    form of ``timeseries.ohlc``: open (earliest value), high, low,
    close (latest), n, exact cent sum, emitted at watermark close.

    The batch operator picks open/close with row_number windows; a
    stream can't sort a window's rows after the fact, so open/close
    become ALGEBRAIC aggregates the state store maintains
    incrementally: ``min(struct(ts, tiebreak, v))`` / ``max(...)`` —
    the struct comparison IS the batch (ts, tiebreak) order, merged
    row-by-row in O(1) state per (key, window). One stateful
    aggregation in append mode; state per open bar is two structs +
    four scalars regardless of tick volume. As in batch,
    ``tiebreak_col`` makes the order total when one key can carry
    duplicate timestamps (without it, same-ts open/close picks are
    tie-broken by value — batch parity holds whenever (ts, tiebreak)
    is total).
    """
    keys = list(key_cols or [])
    tb = (
        F.col(tiebreak_col).alias("__tb")
        if tiebreak_col
        else F.lit(0).alias("__tb")
    )
    base = (
        stream_df.withWatermark(ts_col, watermark)
        .filter(F.col(ts_col).isNotNull() & F.col(val_col).isNotNull())
        .select(
            *keys,
            F.col(ts_col),
            tb,
            F.col(val_col).cast("double").alias("__v"),
        )
    )
    o = F.struct(F.col(ts_col), F.col("__tb"), F.col("__v"))
    val_sum = (
        F.sum(F.round(F.col("__v") * 100.0, 0).cast("long")) / 100.0
        if cents
        else F.sum("__v")
    )
    return (
        base.groupBy(F.window(F.col(ts_col), window), *keys)
        .agg(
            F.min(o).alias("__o"),
            F.max(o).alias("__c"),
            F.max("__v").alias("high"),
            F.min("__v").alias("low"),
            F.count(F.lit(1)).alias("n"),
            val_sum.alias("val_sum"),
        )
        .select(
            F.col("window")["start"].alias("bucket"),
            *keys,
            F.col("__o")["__v"].alias("open"),
            "high",
            "low",
            F.col("__c")["__v"].alias("close"),
            "n",
            "val_sum",
        )
    )


def streaming_session_window_stats(
    stream_df: DataFrame,
    ts_col: str = "ts",
    key_col: str = "user_id",
    gap: str = "30 minutes",
    watermark: str = "1 hour",
    val_col: Optional[str] = None,
    cents: bool = True,
) -> DataFrame:
    """Gap-based session aggregation on a stream via Spark's NATIVE
    ``session_window`` — the declarative twin of the custom stateful
    ``sessionize_stream`` (`applyInPandasWithState`): the state store
    merges overlapping [event, event+gap) windows itself, so sessions
    need no Python state machine, survive out-of-order arrival within
    the watermark, and emit exactly once at watermark close.

    Returns ``(key, session_start, session_end, n_events[, val_sum])``
    — ``session_start``/``session_end`` are the FIRST and LAST event
    times (native window end minus the gap), matching the batch
    ``sessionize``/``session_stats`` convention, so a replayed stream
    reconciles row-for-row with the batch sessionizer. The optional
    value sum is exact integer cents (float stream sums are
    arrival-order-dependent and would break batch parity).

    Scale: ONE stateful aggregation; state per key is the open
    sessions only (merged ranges + partial aggregates), evicted at
    the watermark — hot keys cost their open-session count, not their
    event count.
    """
    ses = F.session_window(F.col(ts_col), gap)
    aggs = [F.count(F.lit(1)).alias("n_events")]
    if val_col is not None:
        aggs.append(
            (
                F.sum(F.round(F.col(val_col).cast("double") * 100.0, 0)
                      .cast("long")) / 100.0
                if cents
                else F.sum(F.col(val_col).cast("double"))
            ).alias("val_sum")
        )
    out = (
        stream_df.withWatermark(ts_col, watermark)
        .filter(F.col(ts_col).isNotNull())
        .groupBy(ses, F.col(key_col))
        .agg(*aggs)
    )
    return out.select(
        F.col(key_col),
        F.col("session_window")["start"].alias("session_start"),
        (
            F.col("session_window")["end"]
            - F.expr(f"INTERVAL {gap}")
        ).alias("session_end"),
        "n_events",
        *(["val_sum"] if val_col is not None else []),
    )


def streaming_stream_interval_join(
    left_stream: DataFrame,
    right_stream: DataFrame,
    left_start: str = "start",
    left_end: str = "end",
    right_start: str = "start",
    right_end: str = "end",
    bin_width_seconds: float = 3600.0,
    max_len: str = "1 hour",
    watermark: str = "10 minutes",
    left_prefix: str = "a_",
    right_prefix: str = "b_",
    max_bins_per_interval: int = 10_000,
) -> DataFrame:
    """Stream-STREAM interval overlap join: pairs of intervals from two
    live streams that overlap in event time (closed — touching
    endpoints count), ``a.start <= b.end AND b.start <= a.end``. Live
    session-overlap / concurrent-incident detection; completes the
    streaming matrix next to the stream-stream distance/kNN/as-of
    joins (the stream-static form is :func:`streaming_interval_join`).

    Both sides explode to the event-time bins their interval covers
    (``bin_width_seconds`` is caller-chosen — a stream cannot derive
    the batch op's two-tier width stats; ``max_bins_per_interval``
    guards the explode with an in-plan raise, the batch convention)
    and the BIN EQUALITY keys the symmetric-hash-join state, so state
    is hash-partitioned exactly like the batch equi-join. A pair
    sharing several bins emits ONLY in its canonical bin — the bin of
    ``max(a.start, b.start)``, which every overlapping pair provably
    shares — so results are exact with no dedup stage. ``max_len``
    (an INTERVAL literal, an upper bound on any interval's length —
    enforced by the same in-plan guard) turns the overlap predicate
    into a watermark-derivable time-range constraint on the two end
    columns, letting Spark EVICT state; both ends carry ``watermark``.

    Intervals are TIMESTAMP columns; each stream's END time is its
    event-time anchor (an interval is complete at its end).
    """
    w = float(bin_width_seconds)
    if w <= 0:
        raise ValueError(f"bin_width_seconds must be > 0: {bin_width_seconds}")
    lp = left_stream.select(
        [F.col(c).alias(f"{left_prefix}{c}") for c in left_stream.columns]
    ).withWatermark(f"{left_prefix}{left_end}", watermark)
    rp = right_stream.select(
        [F.col(c).alias(f"{right_prefix}{c}") for c in right_stream.columns]
    ).withWatermark(f"{right_prefix}{right_end}", watermark)
    a_s, a_e = f"{left_prefix}{left_start}", f"{left_prefix}{left_end}"
    b_s, b_e = f"{right_prefix}{right_start}", f"{right_prefix}{right_end}"

    def bins(df, s, e):
        # drop NULL start/end first: a NULL would make the guard's
        # when() condition NULL and fall into the raise_error branch,
        # poisoning the whole streaming query with a misleading
        # "longer than max_len" error (the sibling streaming ops
        # filter NULLs before binning for the same reason)
        df = df.filter(F.col(s).isNotNull() & F.col(e).isNotNull())
        lo = F.floor(F.unix_timestamp(F.col(s)).cast("double") / w).cast("long")
        hi0 = F.floor(F.unix_timestamp(F.col(e)).cast("double") / w).cast("long")
        # in-plan guards: interval length <= max_len (the state-eviction
        # contract) and bin fanout <= max_bins_per_interval
        ok_len = F.col(e) <= F.col(s) + F.expr(f"INTERVAL {max_len}")
        hi = F.when(
            (hi0 - lo < int(max_bins_per_interval)) & ok_len & (F.col(e) >= F.col(s)),
            hi0,
        ).otherwise(
            F.raise_error(F.lit(
                "streaming_stream_interval_join: an interval is longer "
                f"than max_len ({max_len}) / spans more than "
                f"{max_bins_per_interval} bins, or end < start"
            )).cast("long")
        )
        return df.withColumn("__bin", F.explode(F.sequence(lo, hi)))

    lg = bins(lp, a_s, a_e)
    rg = bins(rp, b_s, b_e)
    overlap = (F.col(a_s) <= F.col(b_e)) & (F.col(b_s) <= F.col(a_e))
    evict = F.expr(
        f"`{b_e}` >= `{a_e}` - INTERVAL {max_len} AND "
        f"`{b_e}` <= `{a_e}` + INTERVAL {max_len}"
    )
    canon = F.floor(
        F.unix_timestamp(F.greatest(F.col(a_s), F.col(b_s))).cast("double") / w
    ).cast("long")
    out = lg.join(
        rg,
        (lg["__bin"] == rg["__bin"]) & overlap & evict
        & (lg["__bin"] == canon),
        "inner",
    )
    return out.drop(lg["__bin"]).drop(rg["__bin"])


def streaming_stream_geo_knn_join(
    left_stream: DataFrame,
    right_stream: DataFrame,
    k: int,
    left_lat: str = "lat",
    left_lon: str = "lon",
    right_lat: str = "lat",
    right_lon: str = "lon",
    left_id: str = "event_id",
    right_id: str = "event_id",
    left_ts: str = "ts",
    right_ts: str = "ts",
    window: str = "10 minutes",
    watermark: str = "10 minutes",
    left_prefix: str = "a_",
    right_prefix: str = "b_",
) -> DataFrame:
    """Stream-STREAM spherical kNN join — the great-circle form of
    :func:`streaming_stream_knn_join`, closing the streaming matrix's
    last cell (distance/kNN × euclidean/spherical × stream-static/
    stream-stream): per left event, its k nearest right events BY
    HAVERSINE within the same tumbling event-time window (ties by
    right id), correct at the antimeridian and the poles where an
    L2 join on raw degrees is wrong.

    Same two chained window-keyed stateful operators as the euclidean
    op (watermarked window-equality join → windowed per-left top-k via
    ``slice(array_sort(collect_list(struct(dist_km, rid))))``), the
    codegen'd haversine as the sort key; exactly-k rows per left event
    at window close, append mode. Output: (window_start, left id,
    right id, dist_km).
    """
    from ..operators.geo import haversine_km

    k = int(k)
    lp = left_stream.select(
        [F.col(c).alias(f"{left_prefix}{c}") for c in left_stream.columns]
    ).withWatermark(f"{left_prefix}{left_ts}", watermark)
    rp = right_stream.select(
        [F.col(c).alias(f"{right_prefix}{c}") for c in right_stream.columns]
    ).withWatermark(f"{right_prefix}{right_ts}", watermark)
    lid = f"{left_prefix}{left_id}"
    rid = f"{right_prefix}{right_id}"

    lw = lp.withColumn(
        "__win", F.window(F.col(f"{left_prefix}{left_ts}"), window))
    rw = rp.withColumn(
        "__win", F.window(F.col(f"{right_prefix}{right_ts}"), window))
    joined = lw.join(rw, on="__win", how="inner")
    dist = haversine_km(
        F.col(f"{left_prefix}{left_lat}"), F.col(f"{left_prefix}{left_lon}"),
        F.col(f"{right_prefix}{right_lat}"), F.col(f"{right_prefix}{right_lon}"),
    )
    packed = F.struct(dist.alias("dist_km"), F.col(rid).alias("rid"))
    return (
        joined.groupBy("__win", F.col(lid))
        .agg(F.slice(F.array_sort(F.collect_list(packed)), 1, k).alias("__tk"))
        .select(
            F.col("__win.start").alias("window_start"),
            F.col(lid),
            F.explode("__tk").alias("__s"),
        )
        .select(
            "window_start",
            lid,
            F.col("__s.rid").alias(rid),
            F.col("__s.dist_km").alias("dist_km"),
        )
    )
