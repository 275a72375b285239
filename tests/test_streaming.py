"""Structured Streaming: spatial predicates and windowed aggregation
driven synchronously through the memory sink (additive capability —
the reference has no streaming, SURVEY.md §2.5)."""

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F


@pytest.fixture()
def stream_dir(spark):
    """A small parquet directory usable as a file-stream source."""
    d = tempfile.mkdtemp(prefix="simba_stream_")
    df = spark.createDataFrame(
        [
            (0, "2024-01-01 00:00:30", 1, "click", 10.0),
            (1, "2024-01-01 00:01:10", 2, "view", 200.0),
            (2, "2024-01-01 00:02:45", 1, "click", 35.0),
            (3, "2024-01-01 00:07:20", 3, "view", 50.0),
            (4, "2024-01-01 00:08:05", 2, "click", 300.0),
        ],
        "event_id long, ts_s string, user_id long, event_type string, value double",
    ).withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s")
    df.write.mode("overwrite").parquet(d)
    yield d, df.schema
    shutil.rmtree(d, ignore_errors=True)


def _run_stream(spark, stream_df, name):
    q = (
        stream_df.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return spark.sql(f"SELECT * FROM {name}")


def test_streaming_range_filter(spark, stream_dir):
    from simba_spark.streaming import streaming_range_filter

    d, schema = stream_dir
    src = spark.readStream.schema(schema).parquet(d)
    out = streaming_range_filter(src, ["value", "user_id"], (10.0, 1.0), (60.0, 2.0))
    got = _run_stream(spark, out, "stream_range_out")
    assert sorted(r.event_id for r in got.collect()) == [0, 2]


def test_streaming_circle_range(spark, stream_dir):
    from simba_spark.streaming import streaming_circle_range

    d, schema = stream_dir
    src = spark.readStream.schema(schema).parquet(d)
    out = streaming_circle_range(src, ["value", "user_id"], (30.0, 1.0), 10.0)
    got = _run_stream(spark, out, "stream_circle_out")
    assert sorted(r.event_id for r in got.collect()) == [2]


def test_streaming_windowed_counts(spark, stream_dir):
    from simba_spark.streaming import windowed_event_counts

    d, schema = stream_dir
    src = spark.readStream.schema(schema).parquet(d)
    agg = windowed_event_counts(src, window="5 minutes", slide="5 minutes")
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("stream_win_out")
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    rows = spark.sql(
        "SELECT window.start AS ws, event_type, n_events, sum_value "
        "FROM stream_win_out ORDER BY ws, event_type"
    ).collect()
    by_key = {(str(r.ws), r.event_type): (r.n_events, r.sum_value) for r in rows}
    # first 5-minute window: clicks at 00:00:30 and 00:02:45, one view
    assert by_key[("2024-01-01 00:00:00", "click")] == (2, 45.0)
    assert by_key[("2024-01-01 00:00:00", "view")] == (1, 200.0)
    # second window: one view, one click
    assert by_key[("2024-01-01 00:05:00", "click")] == (1, 300.0)
    assert by_key[("2024-01-01 00:05:00", "view")] == (1, 50.0)


def test_streaming_distance_join_matches_batch(spark, stream_dir):
    from simba_spark.operators.distance_join import distance_join
    from simba_spark.streaming import streaming_distance_join

    d, schema = stream_dir
    static = spark.createDataFrame(
        [(100, 12.0, 1.0), (200, 210.0, 2.0), (300, 500.0, 9.0)],
        "poi_id long, px double, py double",
    )
    src = spark.readStream.schema(schema).parquet(d)
    out = streaming_distance_join(
        src, static, ["value", "user_id"], ["px", "py"], 15.0
    ).select("event_id", F.col("s_poi_id").alias("poi_id"))
    got = {(r.event_id, r.poi_id) for r in _run_stream(spark, out, "sdj_out").collect()}

    batch = spark.read.parquet(d)
    exp = {
        (r.event_id, r.poi_id)
        for r in distance_join(
            batch, static, ["value", "user_id"], ["px", "py"], 15.0, algo="cross"
        ).select("event_id", "poi_id").collect()
    }
    assert got == exp and len(exp) > 0


def test_batch_sessionize_gap_split(spark):
    from simba_spark.operators.sessionize import session_stats, sessionize

    GAP = 1800 * 1_000_000_000
    NS = 1_000_000_000
    rows = [
        # user 1: two sessions (gap of 2h between event 2 and 3)
        (0, 1, 0 * NS), (1, 1, 600 * NS), (2, 1, 1200 * NS),
        (3, 1, (1200 + 7200) * NS),
        # user 2: one session, exactly-at-gap boundary stays merged
        (10, 2, 0 * NS), (11, 2, 1800 * NS),
    ]
    df = spark.createDataFrame(rows, "event_id long, user_id long, ts long")
    s = sessionize(df, gap_ns=GAP)
    got = {r.event_id: r.session_idx for r in s.collect()}
    assert got == {0: 1, 1: 1, 2: 1, 3: 2, 10: 1, 11: 1}

    stats = {
        (r.user_id, r.session_idx): (r.n_events, r.first_event, r.last_event)
        for r in session_stats(df, gap_ns=GAP).collect()
    }
    assert stats[(1, 1)] == (3, 0, 2)
    assert stats[(1, 2)] == (1, 3, 3)
    assert stats[(2, 1)] == (2, 10, 11)


def test_sessionize_ntz_dst_independent(spark):
    """TIMESTAMP_NTZ gap math must not route through the session zone:
    events straddling a US DST transition (2024-03-10 02:00 local,
    clocks jump forward) sessionize identically under UTC and
    America/New_York. A cast('timestamp') conversion would shift the
    03:30 event by an hour in NY and flip the gap decision."""
    from simba_spark.operators.sessionize import sessionize

    rows = [
        # wall-clock NTZ times around the spring-forward gap; 01:30 →
        # 03:30 is a 2h wall-clock gap (split at 30-min inactivity);
        # 03:30 → 03:45 stays merged
        (0, 1, "2024-03-10 01:00:00"),
        (1, 1, "2024-03-10 01:30:00"),
        (2, 1, "2024-03-10 03:30:00"),
        (3, 1, "2024-03-10 03:45:00"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts_s string"
    ).select(
        "event_id",
        "user_id",
        F.col("ts_s").cast("timestamp_ntz").alias("ts"),
    )
    assert dict(df.dtypes)["ts"] == "timestamp_ntz"

    def run():
        s = sessionize(df, gap_ns=30 * 60 * 1_000_000_000)
        return {r.event_id: r.session_idx for r in s.collect()}

    prev_tz = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        utc = run()
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        ny = run()
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev_tz)
    assert utc == ny == {0: 1, 1: 1, 2: 2, 3: 2}


def test_streaming_sessionize_stateful(spark):
    """applyInPandasWithState sessionization: state carries the open
    session across micro-batches; a later batch closes it."""
    import shutil
    import tempfile

    from simba_spark.operators.sessionize import sessionize_stream

    NS = 1_000_000_000
    GAP = 1800 * NS
    d = tempfile.mkdtemp(prefix="simba_sess_")
    try:
        schema = "event_id long, user_id long, ts long"
        batch1 = spark.createDataFrame(
            [(0, 1, 0 * NS), (1, 1, 60 * NS), (2, 2, 0 * NS)], schema
        )
        batch1.write.mode("overwrite").parquet(d)

        src = spark.readStream.schema(batch1.schema).parquet(d)
        out = sessionize_stream(src, gap_ns=GAP)
        q = (
            out.writeStream.outputMode("update")
            .format("memory")
            .queryName("sess_out")
            .start()
        )
        q.processAllAvailable()
        open1 = {
            (r.user_id): (r.session_start, r.session_end, r.n_events, r.is_open)
            for r in spark.sql("SELECT * FROM sess_out").collect()
        }
        # both users have one OPEN session after batch 1
        assert open1[1] == (0, 60 * NS, 2, 1)
        assert open1[2] == (0, 0, 1, 1)

        # batch 2: user 1 far in the future -> closes the old session
        batch2 = spark.createDataFrame([(3, 1, 10_000 * NS)], schema)
        batch2.write.mode("append").parquet(d)
        q.processAllAvailable()
        q.stop()
        rows = spark.sql("SELECT * FROM sess_out").collect()
        closed = [
            r for r in rows if r.user_id == 1 and r.is_open == 0
        ]
        assert len(closed) == 1 and (
            closed[0].session_start, closed[0].session_end, closed[0].n_events
        ) == (0, 60 * NS, 2)
        new_open = [
            r for r in rows
            if r.user_id == 1 and r.is_open == 1 and r.session_start == 10_000 * NS
        ]
        assert len(new_open) == 1 and new_open[0].n_events == 1
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_streaming_exact_dedup(spark):
    """Duplicate texts (modulo whitespace/case) are dropped across the
    whole stream; distinct texts survive."""
    import shutil
    import tempfile

    from simba_spark.streaming import streaming_exact_dedup

    d = tempfile.mkdtemp(prefix="simba_sdedup_")
    try:
        df = spark.createDataFrame(
            [
                (0, "Hello  World"),
                (1, "hello world"),        # dup of 0 after normalization
                (2, "something else"),
                (3, "Hello World "),       # dup again
            ],
            "doc_id long, text string",
        )
        df.write.mode("overwrite").parquet(d)
        src = spark.readStream.schema(df.schema).parquet(d)
        out = streaming_exact_dedup(src)
        q = (
            out.writeStream.outputMode("append")
            .format("memory")
            .queryName("sdedup_out")
            .trigger(availableNow=True)
            .start()
        )
        q.processAllAvailable()
        q.stop()
        rows = spark.sql("SELECT * FROM sdedup_out").collect()
        texts = sorted(r.text.lower().strip().replace("  ", " ") for r in rows)
        assert len(rows) == 2
        assert texts == ["hello world", "something else"]
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_streaming_knn_join_matches_batch(spark, stream_dir):
    from simba_spark.operators.knn_join import knn_join
    from simba_spark.streaming import streaming_knn_join

    d, schema = stream_dir
    static = spark.createDataFrame(
        [(100, 12.0, 1.0), (200, 210.0, 2.0), (300, 500.0, 9.0), (400, 36.0, 1.0)],
        "poi_id long, px double, py double",
    )
    src = spark.readStream.schema(schema).parquet(d)
    out = streaming_knn_join(
        src, static, ["value", "user_id"], ["px", "py"], 2, static_id="poi_id"
    ).select("event_id", "s_poi_id")
    got = sorted(
        (r.event_id, r.s_poi_id)
        for r in _run_stream(spark, out, "sknn_out").collect()
    )

    batch = spark.read.parquet(d)
    exp = sorted(
        (r.l_event_id, r.r_poi_id)
        for r in knn_join(
            batch, static, ["value", "user_id"], ["px", "py"], 2,
            left_id="event_id", algo="cross", right_tiebreak="poi_id",
        ).collect()
    )
    assert got == exp and len(exp) == 10


def test_streaming_knn_join_guards_static_size(spark, stream_dir):
    from simba_spark.streaming import streaming_knn_join

    d, schema = stream_dir
    static = spark.range(50).select(
        F.col("id").alias("poi_id"),
        F.col("id").cast("double").alias("px"),
        F.lit(0.0).alias("py"),
    )
    src = spark.readStream.schema(schema).parquet(d)
    with pytest.raises(ValueError, match="max_static_rows"):
        streaming_knn_join(
            src, static, ["value", "user_id"], ["px", "py"], 2,
            static_id="poi_id", max_static_rows=10,
        )


def test_streaming_geo_knn_join_matches_batch(spark):
    """Replayed stream ≡ batch geo_knn_join: same haversine terms, same
    (dist, id) tie order — row-for-row including the rounded distance.
    Sites straddle the antimeridian and a pole to exercise the metric,
    not just the plumbing."""
    import shutil
    import tempfile

    from simba_spark.operators.geo import geo_knn_join
    from simba_spark.streaming import streaming_geo_knn_join

    d = tempfile.mkdtemp(prefix="simba_geoknn_stream_")
    try:
        moving = spark.createDataFrame(
            [(0, 80.5, 76.0), (1, 80.5, 166.0), (2, -10.0, -179.9),
             (3, 0.0, 0.0), (4, 89.95, 10.0), (5, -45.0, 120.0)],
            "ship_id long, lat double, lon double",
        )
        moving.write.mode("overwrite").parquet(d)
        sites = spark.createDataFrame(
            [(100, 80.5, 166.0), (200, -10.0, 179.9), (300, 0.5, 0.5),
             (400, 89.9, -170.0), (500, -44.0, 121.0), (600, 10.0, 10.0)],
            "site_id long, lat double, lon double",
        )
        src = spark.readStream.schema(moving.schema).parquet(d)
        out = streaming_geo_knn_join(
            src, sites, 2, static_id="site_id"
        ).select("ship_id", "s_site_id", F.round("dist_km", 6).alias("dr"))
        got = sorted(
            (r.ship_id, r.s_site_id, r.dr)
            for r in _run_stream(spark, out, "sgeoknn_out").collect()
        )
        batch = spark.read.parquet(d)
        exp = sorted(
            (r.ship_id, r.site_id, r.dr)
            for r in geo_knn_join(
                batch, sites.select(F.col("site_id"),
                                    F.col("lat").alias("t_lat"),
                                    F.col("lon").alias("t_lon")),
                2, lat_l="lat", lon_l="lon", lat_r="t_lat", lon_r="t_lon",
                left_id="ship_id", right_tiebreak="site_id", algo="cross",
            ).select("ship_id", "site_id",
                     F.round("dist_km", 6).alias("dr")).collect()
        )
        assert got == exp and len(exp) == 12
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_streaming_geo_knn_join_guards_static_size(spark, stream_dir):
    import pytest as _pytest

    from simba_spark.streaming import streaming_geo_knn_join

    d, schema = stream_dir
    static = spark.range(50).select(
        F.col("id").alias("site_id"),
        (F.col("id") % 90).cast("double").alias("lat"),
        F.lit(0.0).alias("lon"),
    )
    src = spark.readStream.schema(schema).parquet(d)
    with _pytest.raises(ValueError, match="max_static_rows"):
        streaming_geo_knn_join(
            src.withColumn("lat", F.lit(1.0)).withColumn("lon", F.lit(2.0)),
            static, 2, static_id="site_id", max_static_rows=10,
        )


def test_streaming_trending_terms_matches_batch(spark):
    """Replayed stream ≡ the same two-stage program over the batch
    frame: per-window exact counts, top-k by (count desc, term asc)."""
    import shutil
    import tempfile

    from simba_spark.streaming import streaming_trending_terms

    d = tempfile.mkdtemp(prefix="simba_trend_stream_")
    try:
        docs = spark.createDataFrame(
            [
                (0, "2024-01-01 00:00:10", "spark spark shuffle io"),
                (1, "2024-01-01 00:01:20", "spark codegen  Shuffle"),
                (2, "2024-01-01 00:02:30", "io io io spark"),
                (3, "2024-01-01 00:06:10", "arrow arrow parquet"),
                (4, "2024-01-01 00:07:50", "parquet arrow spark"),
                # sentinel far in the future: advances the watermark
                # past both real windows (append mode finalizes a
                # window only once the watermark passes its end); its
                # own window never closes
                (5, "2024-01-01 09:00:00", "sentinel"),
            ],
            "doc_id long, ts_s string, text string",
        ).withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s")
        docs.write.mode("overwrite").parquet(d)
        src = spark.readStream.schema(
            spark.read.parquet(d).schema).parquet(d)
        out = streaming_trending_terms(src, k=3)
        got = sorted(
            (str(r["window"]["start"]), r.term, r.n, r.rank)
            for r in _run_stream(spark, out, "trend_out").collect()
        )
        # window 1 (00:00-00:05): io 4, spark 4, shuffle 2 — the tie
        # breaks term-ascending; window 2: arrow 3, parquet 2, spark 1
        assert got == [
            ("2024-01-01 00:00:00", "io", 4, 1),
            ("2024-01-01 00:00:00", "shuffle", 2, 3),
            ("2024-01-01 00:00:00", "spark", 4, 2),
            ("2024-01-01 00:05:00", "arrow", 3, 1),
            ("2024-01-01 00:05:00", "parquet", 2, 2),
            ("2024-01-01 00:05:00", "spark", 1, 3),
        ]
        # batch twin over the same frame: identical rows (batch emits
        # every window incl. the sentinel's — restrict to the closed)
        batch = streaming_trending_terms(spark.read.parquet(d), k=3)
        want = sorted(
            (str(r["window"]["start"]), r.term, r.n, r.rank)
            for r in batch.collect()
            if str(r["window"]["start"]) < "2024-01-01 01:00:00")
        assert got == want
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_streaming_neardup_flag_matches_band_collisions(spark):
    """The in-row bloom gate vs the exact band-collision set: no false
    negatives ever (bloom property + identical band hashes), and at
    2^20 bits over a handful of register keys the flag equals the
    exact set (deterministic given the seeds)."""
    import shutil
    import tempfile

    from simba_spark.operators.dedup import minhash_band_table
    from simba_spark.streaming import streaming_neardup_flag

    base = ("the quick brown fox jumps over the lazy dog near the "
            "river bank today in spring")
    other = ("entirely different document content describing spark "
             "shuffle partitions and columnar io paths now")
    corpus = spark.createDataFrame(
        [(0, base), (1, other)], "doc_id long, text string")
    reg = minhash_band_table(corpus, num_hashes=32, bands=16)

    inc_rows = [
        (10, base.replace("today", "tonight")),
        (11, "a totally unique little document about nothing"),
        (12, other),
        (13, "yet another fresh unrelated piece of text entirely"),
    ]
    inc = spark.createDataFrame(inc_rows, "doc_id long, text string")
    # exact collision set via the register join
    nb = minhash_band_table(inc, num_hashes=32, bands=16)
    exact = {
        r.doc_id for r in nb.join(
            reg.select("__band", "__bh").distinct(),
            on=["__band", "__bh"]).select("doc_id").distinct().collect()
    }
    assert exact == {10, 12}

    d = tempfile.mkdtemp(prefix="simba_neardup_stream_")
    try:
        inc.write.mode("overwrite").parquet(d)
        src = spark.readStream.schema(inc.schema).parquet(d)
        out = streaming_neardup_flag(src, reg, num_hashes=32, bands=16)
        got = {r.doc_id: r.neardup_candidate
               for r in _run_stream(spark, out, "ndf_out").collect()}
        assert set(got) == {10, 11, 12, 13}
        # no false negatives; at this register size, exactly the set
        assert {k for k, v in got.items() if v} == exact
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_stream_stream_knn_join_matches_batch(spark):
    """Two replayed streams through the chained stateful operators
    (window-equality stream-stream join → windowed per-left top-k)
    must produce exactly the batch answer: for each left event, the k
    nearest right events in the same tumbling window, ties by id."""
    from simba_spark.streaming import streaming_stream_knn_join

    da = tempfile.mkdtemp(prefix="simba_ssknn_a_")
    db = tempfile.mkdtemp(prefix="simba_ssknn_b_")
    try:
        import random
        from collections import defaultdict

        rng = random.Random(43)
        arows = [
            (i, f"2024-01-01 00:{i % 30:02d}:00", rng.uniform(0, 100), rng.uniform(0, 100))
            for i in range(80)
        ]
        brows = [
            (j, f"2024-01-01 00:{j % 30:02d}:30", rng.uniform(0, 100), rng.uniform(0, 100))
            for j in range(100)
        ]
        # sentinel events far in the future: advance the watermark past
        # every data window so the append-mode windowed top-k EMITS all
        # of them (a window only finalizes once the watermark passes its
        # end). The sentinels' own window never closes, so they emit
        # nothing themselves and stay out of the oracle.
        arows.append((9999, "2024-01-01 01:00:00", 0.0, 0.0))
        brows.append((9999, "2024-01-01 01:00:00", 0.0, 0.0))
        schema = "id long, ts_s string, x double, y double"
        a = spark.createDataFrame(arows, schema).withColumn(
            "ts", F.to_timestamp("ts_s")
        ).drop("ts_s")
        b = spark.createDataFrame(brows, schema).withColumn(
            "ts", F.to_timestamp("ts_s")
        ).drop("ts_s")
        a.write.mode("overwrite").parquet(da)
        b.write.mode("overwrite").parquet(db)

        K = 3
        sa = spark.readStream.schema(a.schema).parquet(da)
        sb = spark.readStream.schema(b.schema).parquet(db)
        out = streaming_stream_knn_join(
            sa, sb, ["x", "y"], ["x", "y"], K,
            left_id="id", right_id="id",
            window="10 minutes", watermark="10 minutes",
        )
        got = sorted(
            (r.a_id, r.b_id)
            for r in _run_stream(spark, out, "ss_knn_out").collect()
        )

        # batch oracle: same tumbling-window pairing + per-left top-k
        # (sentinels excluded — their window never finalizes)
        apd, bpd = a.filter("id < 9999").toPandas(), b.filter("id < 9999").toPandas()
        win = lambda ts: int(ts.timestamp() // 600)
        by_win = defaultdict(list)
        for _, rb in bpd.iterrows():
            by_win[win(rb.ts)].append(rb)
        exp = []
        for _, ra in apd.iterrows():
            cands = sorted(
                (
                    ((ra.x - rb.x) ** 2 + (ra.y - rb.y) ** 2) ** 0.5,
                    int(rb.id),
                )
                for rb in by_win.get(win(ra.ts), [])
            )
            exp.extend((int(ra.id), rid) for _, rid in cands[:K])
        exp = sorted(exp)
        assert got == exp and len(exp) > 0
    finally:
        shutil.rmtree(da, ignore_errors=True)
        shutil.rmtree(db, ignore_errors=True)


def test_stream_stream_distance_join_matches_batch(spark):
    """Two replayed streams through the watermarked stream-stream grid
    join must produce exactly the pairs the batch semantics give
    (distance <= r AND |event-time delta| <= bound)."""
    import pandas as pd

    from simba_spark.streaming import streaming_stream_distance_join

    da = tempfile.mkdtemp(prefix="simba_ss_a_")
    db = tempfile.mkdtemp(prefix="simba_ss_b_")
    try:
        import random

        rng = random.Random(41)
        arows = [
            (i, f"2024-01-01 00:{i % 30:02d}:00", rng.uniform(0, 100), rng.uniform(0, 100))
            for i in range(120)
        ]
        brows = [
            (j, f"2024-01-01 00:{j % 30:02d}:30", rng.uniform(0, 100), rng.uniform(0, 100))
            for j in range(150)
        ]
        schema = "id long, ts_s string, x double, y double"
        a = spark.createDataFrame(arows, schema).withColumn(
            "ts", F.to_timestamp("ts_s")
        ).drop("ts_s")
        b = spark.createDataFrame(brows, schema).withColumn(
            "ts", F.to_timestamp("ts_s")
        ).drop("ts_s")
        a.write.mode("overwrite").parquet(da)
        b.write.mode("overwrite").parquet(db)

        sa = spark.readStream.schema(a.schema).parquet(da)
        sb = spark.readStream.schema(b.schema).parquet(db)
        out = streaming_stream_distance_join(
            sa, sb, ["x", "y"], ["x", "y"], radius=8.0,
            watermark="30 minutes", time_bound="5 minutes",
        )
        got = sorted(
            (r.a_id, r.b_id)
            for r in _run_stream(spark, out.select("a_id", "b_id"),
                                 "ss_dist_join_out").collect()
        )

        apd, bpd = a.toPandas(), b.toPandas()
        exp = sorted(
            (int(ra.id), int(rb.id))
            for _, ra in apd.iterrows()
            for _, rb in bpd.iterrows()
            if (ra.x - rb.x) ** 2 + (ra.y - rb.y) ** 2 <= 64.0
            and abs((ra.ts - rb.ts).total_seconds()) <= 300
        )
        assert got == exp and len(exp) > 0
    finally:
        shutil.rmtree(da, ignore_errors=True)
        shutil.rmtree(db, ignore_errors=True)


def test_streaming_asof_join_matches_batch(spark):
    """Two replayed streams through the chained stateful operators
    (key-equality time-interval stream-stream join → windowed per-left
    latest-right) must produce exactly the batch asof_join answer
    (backward, inclusive, tolerance=max_lag, how='inner', greatest-id
    ties)."""
    from simba_spark.operators.asof import asof_join
    from simba_spark.streaming import streaming_asof_join

    da = tempfile.mkdtemp(prefix="simba_asof_a_")
    db = tempfile.mkdtemp(prefix="simba_asof_b_")
    try:
        import random

        rng = random.Random(11)
        arows = [
            (i, f"2024-01-01 00:{rng.randrange(28):02d}:{rng.randrange(60):02d}",
             rng.randrange(5))
            for i in range(60)
        ]
        brows = [
            (1000 + j,
             f"2024-01-01 00:{rng.randrange(28):02d}:{rng.randrange(60):02d}",
             rng.randrange(5))
            for j in range(80)
        ]
        # duplicate right timestamps on one key exercise the tie rule
        brows += [(2001, "2024-01-01 00:05:00", 0), (2002, "2024-01-01 00:05:00", 0)]
        # same LEFT id on two different keys in the same window: ids
        # are only unique per key — they must not merge across keys
        arows += [(500, "2024-01-01 00:06:00", 0), (500, "2024-01-01 00:06:30", 1)]
        # sentinels far in the future advance the watermark past every
        # data window so the append-mode agg emits; their own window
        # never closes so they emit nothing
        arows.append((9999, "2024-01-01 01:00:00", 0))
        brows.append((9999, "2024-01-01 01:00:00", 0))
        schema = "id long, ts_s string, k long"
        a = spark.createDataFrame(arows, schema).withColumn(
            "ts", F.to_timestamp("ts_s")
        ).drop("ts_s")
        b = spark.createDataFrame(brows, schema).withColumn(
            "ts", F.to_timestamp("ts_s")
        ).drop("ts_s")
        a.write.mode("overwrite").parquet(da)
        b.write.mode("overwrite").parquet(db)

        sa = spark.readStream.schema(a.schema).parquet(da)
        sb = spark.readStream.schema(b.schema).parquet(db)
        out = streaming_asof_join(
            sa, sb, on="k", left_id="id", right_id="id",
            max_lag="5 minutes", window="10 minutes", watermark="10 minutes",
        )
        got = sorted(
            (r.a_id, r.b_id)
            for r in _run_stream(spark, out, "ss_asof_out").collect()
        )

        exp_df = asof_join(
            a.filter("id < 9999"), b.filter("id < 9999"),
            on="k", left_time="ts",
            tolerance=5 * 60 * 1_000_000, how="inner",
            tiebreak_col="id", right_prefix="r_",
        )
        exp = sorted((r.id, r.r_id) for r in exp_df.collect())
        assert got == exp and len(exp) > 0
    finally:
        shutil.rmtree(da, ignore_errors=True)
        shutil.rmtree(db, ignore_errors=True)


def test_streaming_interval_join_matches_batch(spark):
    """A replayed point stream against static intervals through the
    binned equi-join must equal the batch interval_join exactly
    (two-tier default widths, closed bounds)."""
    from simba_spark.operators.interval import interval_join
    from simba_spark.streaming import streaming_interval_join

    d = tempfile.mkdtemp(prefix="simba_sij_")
    try:
        import random

        rng = random.Random(5)
        ivals = [
            (i, (s := rng.uniform(0, 1000)), s + rng.uniform(0, 50))
            for i in range(60)
        ]
        # one heavy-tail interval exercises the coarse tier on a stream
        ivals.append((999, 0.0, 1000.0))
        pts = [(j, rng.uniform(0, 1000)) for j in range(400)]
        iv = spark.createDataFrame(ivals, "iid long, s double, e double")
        pt = spark.createDataFrame(pts, "pid long, v double")
        pt.write.mode("overwrite").parquet(d)

        sp = spark.readStream.schema(pt.schema).parquet(d)
        out = streaming_interval_join(sp, iv, "s", "e", "v")
        got = sorted(
            (r.a_iid, r.b_pid)
            for r in _run_stream(spark, out, "sij_out").collect()
        )
        exp = sorted(
            (r.a_iid, r.b_pid)
            for r in interval_join(iv, pt, "s", "e", "v").collect()
        )
        assert got == exp and len(exp) > 400  # the [0,1000] interval catches all
        # stream-stream misuse fails loudly
        with pytest.raises(AssertionError, match="static"):
            streaming_interval_join(sp, sp, "s", "e", "v")
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_streaming_static_asof_join_matches_batch(spark):
    """Replayed stream against a versioned static dimension via the
    broadcast sorted-array lookup must equal batch asof_join
    (backward, inclusive, greatest-tiebreak ties, left join)."""
    from simba_spark.operators.asof import asof_join
    from simba_spark.streaming import streaming_static_asof_join

    d = tempfile.mkdtemp(prefix="simba_ssa_")
    try:
        import random

        rng = random.Random(21)
        evs = [(i, rng.randrange(6), rng.randrange(1000)) for i in range(300)]
        dim = [(1000 + j, rng.randrange(6), rng.randrange(1000), float(j))
               for j in range(50)]
        # key with no dim rows + duplicate dim times on one key
        dim += [(2001, 0, 500, 9.0), (2002, 0, 500, 8.0)]
        ev = spark.createDataFrame(evs, "eid long, k long, t long")
        dm = spark.createDataFrame(dim, "did long, k long, t long, v double")
        ev.write.mode("overwrite").parquet(d)

        se = spark.readStream.schema(ev.schema).parquet(d)
        out = streaming_static_asof_join(
            se, dm, on="k", stream_ts="t", static_ts="t", tiebreak_col="did"
        )
        got = sorted(
            (r.eid, r.r_did) for r in _run_stream(spark, out, "ssa_out").collect()
        )
        exp_df = asof_join(
            ev, dm, on="k", left_time="t", right_time="t",
            tiebreak_col="did", right_prefix="r_",
        )
        exp = sorted((r.eid, r.r_did) for r in exp_df.collect())
        assert got == exp and len(exp) == 300
        # size guard
        with pytest.raises(AssertionError, match="max_static_rows"):
            streaming_static_asof_join(
                se, dm, on="k", stream_ts="t", static_ts="t",
                max_static_rows=10,
            )
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_streaming_static_asof_guards_and_map_payload(spark):
    """ADVICE r4: reserved-name/prefix-collision guards mirror the batch
    operator; the comparator sort tolerates non-orderable (map) payload
    columns; string tiebreaks keep their native type."""
    from simba_spark.streaming import streaming_static_asof_join

    d = tempfile.mkdtemp(prefix="simba_ssa2_")
    try:
        ev = spark.createDataFrame([(1, 0, 100)], "eid long, k long, t long")
        ev.write.mode("overwrite").parquet(d)
        se = spark.readStream.schema(ev.schema).parquet(d)

        dm = spark.createDataFrame(
            [(0, 50, "v_a", {"a": 1}), (0, 50, "v_b", {"b": 2})],
            "k long, t long, sid string, attrs map<string,int>",
        )
        out = streaming_static_asof_join(
            se, dm, on="k", stream_ts="t", static_ts="t", tiebreak_col="sid"
        )
        rows = _run_stream(spark, out, "ssa2_out").collect()
        assert len(rows) == 1
        # greatest STRING tiebreak wins; map payload survives the sort
        assert rows[0].r_sid == "v_b" and rows[0].r_attrs == {"b": 2}

        with pytest.raises(ValueError, match="reserved"):
            streaming_static_asof_join(
                se.withColumnRenamed("eid", "__arr"), dm, on="k",
                stream_ts="t", static_ts="t",
            )
        with pytest.raises(ValueError, match="collide"):
            streaming_static_asof_join(
                se.withColumnRenamed("eid", "r_sid"), dm, on="k",
                stream_ts="t", static_ts="t",
            )
        with pytest.raises(ValueError, match="tiebreak"):
            streaming_static_asof_join(
                se, dm, on="k", stream_ts="t", static_ts="t",
                tiebreak_col="nope",
            )
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_streaming_windowed_hll_matches_batch(spark):
    """Windowed streaming HLL ≡ the batch sketch over the same rows:
    identical registers → identical estimates, and state is bounded at
    2^p registers per open (window, key)."""
    import shutil
    import tempfile

    from simba_spark.operators.sketches import hll_distinct
    from simba_spark.streaming.ops import streaming_windowed_hll

    d = tempfile.mkdtemp(prefix="simba_hll_stream_")
    try:
        rows = [
            (i, f"2024-01-01 00:{i % 10:02d}:{(7 * i) % 60:02d}",
             i % 97, "click" if i % 3 else "view")
            for i in range(500)
        ]
        # sentinels far in the future advance the watermark past both
        # real windows (append mode finalizes a window only once the
        # watermark passes its end); their own window never closes
        rows += [(9000, "2024-01-01 09:00:00", 1, "sentinel")]
        df = (
            spark.createDataFrame(
                rows, "event_id long, ts_s string, user_id long, event_type string"
            )
            .withColumn("ts", F.to_timestamp("ts_s"))
            .drop("ts_s")
        )
        df.write.mode("overwrite").parquet(d)
        src = spark.readStream.schema(df.schema).parquet(d)
        out = streaming_windowed_hll(
            src, ts_col="ts", col="user_id", key_col="event_type",
            window="5 minutes", p=10,
        )
        got = _run_stream(spark, out, "stream_hll_out")
        stream_rows = {
            (r["window"]["start"], r["event_type"]): r["approx_distinct"]
            for r in got.collect()
        }
        # batch oracle: hll per (window, event_type) over the same rows
        batch_est = {
            (r["window"]["start"], r["event_type"]): r["approx_distinct"]
            for r in hll_distinct(
                df.filter("event_type <> 'sentinel'").withColumn(
                    "window", F.window("ts", "5 minutes")
                ),
                "user_id", group_by=["window", "event_type"], p=10,
            ).collect()
        }
        assert stream_rows == batch_est
        assert len(stream_rows) > 2
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_streaming_bloom_prefilter(spark):
    """bloom_semi_join composes with a STREAMING probe side unchanged:
    the bitset is built from the static side at plan-construction time
    (a batch job + binary literal), so the stream plan is a stateless
    filter — no join node, no state store. Every true match survives."""
    import shutil
    import tempfile

    from simba_spark.operators.pipeline import bloom_semi_join

    d = tempfile.mkdtemp(prefix="simba_bloom_stream_")
    try:
        big = spark.range(3000).select(
            (F.col("id") % 500).alias("k"), F.col("id").alias("payload")
        )
        big.write.mode("overwrite").parquet(d)
        small = spark.range(40).select((F.col("id") * 11).alias("sk"))
        src = spark.readStream.schema(big.schema).parquet(d)
        out = bloom_semi_join(src, small, "k", "sk")
        assert out.isStreaming
        got = _run_stream(spark, out, "stream_bloom_out")
        got_keys = {r["k"] for r in got.select("k").distinct().collect()}
        true_keys = {r["sk"] for r in small.collect()} & set(range(500))
        assert true_keys <= got_keys  # no false negatives through the stream
        # false positives are bounded (m=2^20 over 40 keys ≈ none)
        assert len(got_keys - true_keys) <= 2
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_streaming_windowed_quantile_matches_batch(spark):
    """Windowed streaming quantiles ≡ the batch bucketed sketch over
    the same rows: identical per-bucket struct-mins → identical
    interpolated estimates, with state ≤ k structs per open (window,
    key)."""
    import shutil
    import tempfile

    from simba_spark.operators.sketches import (quantile_estimate,
                                                quantile_sketch_bucketed)
    from simba_spark.streaming.ops import streaming_windowed_quantile

    d = tempfile.mkdtemp(prefix="simba_q_stream_")
    try:
        rows = [
            (i, f"2024-01-01 00:{i % 10:02d}:{(7 * i) % 60:02d}",
             float((13 * i) % 400) / 4.0, "click" if i % 3 else "view")
            for i in range(600)
        ]
        rows += [(9000, "2024-01-01 09:00:00", 1.0, "sentinel")]
        df = (
            spark.createDataFrame(
                rows, "event_id long, ts_s string, value double, event_type string"
            )
            .withColumn("ts", F.to_timestamp("ts_s"))
            .drop("ts_s")
        )
        df.write.mode("overwrite").parquet(d)
        src = spark.readStream.schema(df.schema).parquet(d)
        out = streaming_windowed_quantile(
            src, ts_col="ts", col="value", key_col="event_type",
            window="5 minutes", qs=(0.5, 0.9), k=64,
        )
        got = _run_stream(spark, out, "stream_quantile_out")
        stream_rows = {
            (r["window"]["start"], r["event_type"]): (r["q500"], r["q900"])
            for r in got.collect()
        }
        batch = quantile_estimate(
            quantile_sketch_bucketed(
                df.filter("event_type <> 'sentinel'")
                .withColumn("window", F.window("ts", "5 minutes")),
                "value", "event_id",
                group_by=["window", "event_type"], k=64,
            ),
            qs=(0.5, 0.9), group_by=["window", "event_type"],
        )
        batch_rows = {
            (r["window"]["start"], r["event_type"]): (r["q500"], r["q900"])
            for r in batch.collect()
        }
        assert stream_rows == batch_rows
        assert len(stream_rows) > 2
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_streaming_windowed_cm_matches_batch(spark):
    """Windowed streaming CM ≡ the batch sketch over the same rows:
    identical counter cells, so estimates from the merged/persisted
    form are identical too."""
    import shutil
    import tempfile

    from simba_spark.operators.sketches import cm_sketch
    from simba_spark.streaming.ops import streaming_windowed_cm

    d = tempfile.mkdtemp(prefix="simba_cm_stream_")
    try:
        rows = [
            (i, f"2024-01-01 00:{i % 10:02d}:{(7 * i) % 60:02d}",
             i % 37, "click" if i % 3 else "view")
            for i in range(500)
        ]
        rows += [(9000, "2024-01-01 09:00:00", 1, "sentinel")]
        df = (
            spark.createDataFrame(
                rows, "event_id long, ts_s string, user_id long, event_type string"
            )
            .withColumn("ts", F.to_timestamp("ts_s"))
            .drop("ts_s")
        )
        df.write.mode("overwrite").parquet(d)
        src = spark.readStream.schema(df.schema).parquet(d)
        out = streaming_windowed_cm(
            src, ts_col="ts", col="user_id", key_col="event_type",
            window="5 minutes", depth=3, width=32,
        )
        got = _run_stream(spark, out, "stream_cm_out")
        stream_cells = {
            (r["window"]["start"], r["event_type"], r["__cm_d"], r["__cm_b"]):
                r["__cm_n"]
            for r in got.collect()
        }
        batch = cm_sketch(
            df.filter("event_type <> 'sentinel'").withColumn(
                "window", F.window("ts", "5 minutes")
            ),
            "user_id", group_by=["window", "event_type"], depth=3, width=32,
        )
        batch_cells = {
            (r["window"]["start"], r["event_type"], r["__cm_d"], r["__cm_b"]):
                r["__cm_n"]
            for r in batch.collect()
        }
        assert stream_cells == batch_cells
        assert len(stream_cells) > 10
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_streaming_kmeans_assign_matches_batch(spark):
    """Stream scoring with trained centroids ≡ batch assignment
    row-for-row, on both the codegen and Arrow kernels (stateless
    projection — no watermark/state)."""
    import shutil
    import tempfile

    from simba_spark.operators.clustering import kmeans
    from simba_spark.streaming.ops import streaming_kmeans_assign

    d = tempfile.mkdtemp(prefix="simba_km_stream_")
    try:
        rows = [
            (i, [float((i % 3) * 10 + (i % 2)), float(i % 5), 1.0, 0.0])
            for i in range(200)
        ]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        batch, cents = kmeans(df, k=3, iters=2, dim=4)
        want = sorted((r["vec_id"], r["cluster"]) for r in batch.collect())
        df.write.mode("overwrite").parquet(d)
        src = spark.readStream.schema(df.schema).parquet(d)
        for route in ("codegen", "arrow"):
            out = streaming_kmeans_assign(src, cents, route=route)
            got = _run_stream(spark, out, f"stream_km_{route}")
            assert sorted((r["vec_id"], r["cluster"])
                          for r in got.collect()) == want
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_streaming_kmeans_assign_drops_invalid_vectors(spark):
    """NULL / wrong-dimension vectors are dropped (batch-parity), not
    crashed on, on both kernels."""
    import shutil
    import tempfile

    from simba_spark.streaming.ops import streaming_kmeans_assign

    d = tempfile.mkdtemp(prefix="simba_km_stream_inv_")
    try:
        rows = [(1, [0.0, 0.0]), (2, None), (3, [1.0]), (4, [5.0, 5.0])]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        df.write.mode("overwrite").parquet(d)
        src = spark.readStream.schema(df.schema).parquet(d)
        cents = [[0.0, 0.0], [5.0, 5.0]]
        for route in ("codegen", "arrow"):
            got = _run_stream(
                spark, streaming_kmeans_assign(src, cents, route=route),
                f"stream_km_inv_{route}")
            assert sorted((r["vec_id"], r["cluster"])
                          for r in got.collect()) == [(1, 0), (4, 1)]
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_streaming_validate_rows(spark):
    """validate_rows is a stateless projection, so the dead-letter gate
    applies to a stream unchanged — same failed-rule arrays as batch."""
    import shutil
    import tempfile

    from simba_spark.operators.pipeline import validate_rows

    d = tempfile.mkdtemp(prefix="simba_val_stream_")
    try:
        df = spark.createDataFrame(
            [(1, 5.0), (2, None), (3, -2.0)], "id long, v double")
        df.write.mode("overwrite").parquet(d)
        rules = {"v_pos": F.col("v") > 0}
        src = spark.readStream.schema(df.schema).parquet(d)
        got = _run_stream(
            spark,
            validate_rows(src, rules).select(
                "id", F.array_join("failed_rules", ",").alias("failed")),
            "stream_val_out")
        assert {r["id"]: r["failed"] for r in got.collect()} == {
            1: "", 2: "v_pos", 3: "v_pos"}
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_streaming_pca_project_matches_batch(spark):
    import shutil
    import tempfile

    from simba_spark.operators.pca import fit_pca, pca_project
    from simba_spark.streaming.ops import streaming_pca_project

    d = tempfile.mkdtemp(prefix="simba_pca_stream_")
    try:
        import random
        rng = random.Random(4)
        rows = [(i, [rng.gauss(0, 1) for _ in range(5)]) for i in range(150)]
        rows.append((999, None))
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        model = fit_pca(df, n_components=2, dim=5)
        want = sorted((r["vec_id"], tuple(r["pca"])) for r in
                      pca_project(df, model=model).collect())
        df.write.mode("overwrite").parquet(d)
        src = spark.readStream.schema(df.schema).parquet(d)
        got = _run_stream(spark, streaming_pca_project(src, model),
                          "stream_pca_out")
        assert sorted((r["vec_id"], tuple(r["pca"]))
                      for r in got.collect()) == want
        assert len(want) == 150
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_streaming_volume_anomaly_matches_batch(spark):
    """Streamed windowed anomaly scoring ≡ batch window counts scored
    against the same offline baseline; only |z| > t windows emit."""
    import shutil
    import tempfile

    from simba_spark.operators.analytics import volume_baseline
    from simba_spark.streaming.ops import streaming_volume_anomaly

    d = tempfile.mkdtemp(prefix="simba_vol_anom_")
    try:
        # history: ~6 events per (type, minute); live stream replays it
        # with one spiked minute per type
        rows = []
        for m in range(10):
            for t in ("click", "view"):
                n = 60 if (m == 4 and t == "click") else 6
                for i in range(n):
                    rows.append(
                        (len(rows), f"2024-01-01 00:{m:02d}:{i % 60:02d}", t)
                    )
        rows.append((9000, "2024-01-01 09:00:00", "sentinel"))
        df = (
            spark.createDataFrame(rows, "event_id long, ts_s string, event_type string")
            .withColumn("ts", F.to_timestamp("ts_s"))
            .drop("ts_s")
        )
        # baseline fitted in batch on minute buckets of the history
        bl = volume_baseline(
            df.filter("event_type <> 'sentinel'"), bucket="minute"
        )
        df.write.mode("overwrite").parquet(d)
        src = spark.readStream.schema(df.schema).parquet(d)
        out = streaming_volume_anomaly(
            src, bl, window="1 minute", z_threshold=2.0
        )
        got = _run_stream(spark, out, "stream_vol_anom_out")
        stream_rows = {
            (r["window"]["start"].isoformat(), r["event_type"]): (r["n"], r["z"])
            for r in got.collect()
        }
        # batch mirror: window counts joined to the same baseline
        counts = (
            df.filter("event_type <> 'sentinel'")
            .groupBy(F.window("ts", "1 minute"), "event_type")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        z = (F.col("n") - F.col("__mu")) / F.col("__sd")
        batch = {
            (r["window"]["start"].isoformat(), r["event_type"]): (r["n"], r["z"])
            for r in counts.join(
                bl.select(F.col("grp").alias("event_type"), "__mu", "__sd"),
                "event_type",
            )
            .filter((F.col("__sd") > 0) & (F.abs(z) > 2.0))
            .select("window", "event_type", "n", F.round(z, 6).alias("z"))
            .collect()
        }
        assert stream_rows == batch
        # the spiked click minute is flagged
        assert ("2024-01-01T00:04:00", "click") in stream_rows
        assert stream_rows[("2024-01-01T00:04:00", "click")][0] == 60
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_streaming_psi_matches_batch(spark):
    """Streamed per-window PSI ≡ batch psi_drift of each window's rows
    against the same offline-fitted reference — bin-for-bin, including
    psi_total."""
    import shutil
    import tempfile

    from simba_spark.operators.stats import psi_drift
    from simba_spark.streaming.ops import streaming_psi

    d = tempfile.mkdtemp(prefix="simba_stream_psi_")
    try:
        ref = spark.range(2000).select(
            F.col("id").alias("rid"),
            ((F.col("id") * 13) % 100).cast("double").alias("v"),
        )
        # two 1-minute windows: minute 0 replays the reference shape,
        # minute 1 is shifted upward (drift)
        rows = []
        for i in range(600):
            rows.append((i, f"2024-01-01 00:00:{i % 60:02d}",
                         float((i * 13) % 100)))
        for i in range(600):
            rows.append((1000 + i, f"2024-01-01 00:01:{i % 60:02d}",
                         float(80 + (i % 20))))
        rows.append((9999, "2024-01-01 09:00:00", 50.0))  # watermark push
        df = (
            spark.createDataFrame(rows, "rid long, ts_s string, v double")
            .withColumn("ts", F.to_timestamp("ts_s"))
            .drop("ts_s")
        )
        df.write.mode("overwrite").parquet(d)
        src = spark.readStream.schema(
            spark.read.parquet(d).schema
        ).parquet(d)
        out = streaming_psi(src, ref, "v", "rid", window="1 minute",
                            nbins=8, k=512)
        got = _run_stream(spark, out, "stream_psi_out")
        stream_rows = {
            (r["window"]["start"].isoformat(), r["bin"]):
                (r["n_cur"], r["p_cur"], r["p_ref"], r["psi_term"],
                 r["psi_total"])
            for r in got.collect()
        }
        assert len(stream_rows) >= 16  # 2 full windows x 8 bins
        # batch mirror per window
        for minute in (0, 1):
            w = f"2024-01-01T00:0{minute}:00"
            cur = df.filter(
                (F.col("ts") >= f"2024-01-01 00:0{minute}:00")
                & (F.col("ts") < f"2024-01-01 00:0{minute + 1}:00")
            )
            batch = {
                r["bin"]: (r["n_cur"], r["p_cur"], r["p_ref"], r["psi_term"])
                for r in psi_drift(ref, cur, "v", "rid", nbins=8,
                                   k=512).collect()
            }
            tot = round(sum(v[3] for v in batch.values()), 6)
            for b, want in batch.items():
                got_b = stream_rows[(w, b)]
                assert got_b[:4] == want, (minute, b, got_b, want)
                assert got_b[4] == tot
        # drifted window is loud, replayed window is quiet
        tot0 = stream_rows[("2024-01-01T00:00:00", 0)][4]
        tot1 = stream_rows[("2024-01-01T00:01:00", 0)][4]
        assert tot0 < 0.1 and tot1 > 0.5
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_streaming_cusum_matches_batch_and_keeps_state(spark):
    """In-order replay of a bucketed series through streaming_cusum ≡
    batch cusum (same baseline by construction: cusum_baseline uses
    cusum's own moment formulas); state carries the recursion across
    micro-batches; a replayed old bucket comes back flagged late."""
    import tempfile
    import shutil

    from simba_spark.operators.timeseries import cusum, cusum_baseline
    from simba_spark.streaming.ops import streaming_cusum

    d = tempfile.mkdtemp(prefix="simba_scusum_")
    try:
        xs = [10.0] * 12 + [14.0] * 8
        rows = [("k", b, x) for b, x in enumerate(xs)]
        schema = "k string, bucket long, x double"
        batch = spark.createDataFrame(rows, schema)
        want = {
            r["bucket"]: (r["z"], r["cusum_up"], r["cusum_dn"],
                          r["alarm"])
            for r in cusum(batch, "k", val_col="x", slack=0.5,
                           threshold=4.0).collect()
        }
        baseline = cusum_baseline(batch, "k", "x")

        # micro-batch 1: buckets 0..11
        spark.createDataFrame(rows[:12], schema) \
            .write.mode("overwrite").parquet(d)
        src = spark.readStream.schema(batch.schema).parquet(d)
        out = streaming_cusum(src, baseline, key_col="k",
                              bucket_col="bucket", val_col="x",
                              slack=0.5, threshold=4.0)
        q = (
            out.writeStream.outputMode("update")
            .format("memory").queryName("scusum_out").start()
        )
        q.processAllAvailable()
        # micro-batch 2: buckets 12..19 PLUS a late replay of bucket 3
        spark.createDataFrame(rows[12:] + [("k", 3, 10.0)], schema) \
            .write.mode("append").parquet(d)
        q.processAllAvailable()
        q.stop()
        got = spark.sql("SELECT * FROM scusum_out").collect()

        late = [r for r in got if r["late"] == 1]
        assert len(late) == 1 and late[0]["bucket"] == 3
        assert late[0]["cusum_up"] is None

        live = {r["bucket"]: (r["z"], r["cusum_up"], r["cusum_dn"],
                              r["alarm"])
                for r in got if r["late"] == 0}
        assert set(live) == set(want)
        import pytest as _pt

        for b, (z, up, dn, alarm) in want.items():
            gz, gup, gdn, galarm = live[b]
            assert gz == _pt.approx(z, abs=1e-9)
            assert gup == _pt.approx(up, abs=1e-9)
            assert gdn == _pt.approx(dn, abs=1e-9)
            assert bool(galarm) == bool(alarm)
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_streaming_geo_distance_join_matches_batch(spark, tmp_path):
    """Stream-static spherical join ≡ the batch geo_distance_join over
    the replayed rows (incl. a high-latitude pair the planar bound
    would have missed)."""
    import random

    from simba_spark.operators.geo import geo_distance_join
    from simba_spark.streaming import streaming_geo_distance_join

    rng = random.Random(91)
    spts = [(i, rng.uniform(-85, 85), rng.uniform(-180, 180))
            for i in range(80)]
    tpts = [(100 + i, rng.uniform(-85, 85), rng.uniform(-180, 180))
            for i in range(80)]
    spts += [(900, 80.5, 76.0)]
    tpts += [(901, 80.5, 166.0)]
    sdf = spark.createDataFrame(spts, "sid long, lat double, lon double")
    tdf = spark.createDataFrame(tpts, "tid long, lat double, lon double")
    d = str(tmp_path / "geo_sj")
    sdf.write.parquet(d)
    src = spark.readStream.schema(sdf.schema).parquet(d)
    out = streaming_geo_distance_join(src, tdf, 1500.0)
    q = (out.writeStream.format("memory").queryName("geo_sj_out")
         .outputMode("append").start())
    q.processAllAvailable()
    q.stop()
    got = {(r["sid"], r["s_tid"]) for r in
           spark.sql("SELECT * FROM geo_sj_out").collect()}
    want = {(r["sid"], r["b_tid"]) for r in geo_distance_join(
        sdf, tdf, 1500.0, right_prefix="b_").collect()}
    assert got == want and (900, 901) in got


def test_stream_stream_geo_distance_join_matches_batch(spark):
    """Two replayed streams through the watermarked spherical
    stream-stream join == batch pairs (haversine <= r AND |Δt| <=
    bound), incl. a high-latitude wide-lon-gap pair."""
    from simba_spark.operators.geo import geo_distance_join
    from simba_spark.streaming import streaming_stream_geo_distance_join

    da = tempfile.mkdtemp(prefix="simba_ssg_a_")
    db = tempfile.mkdtemp(prefix="simba_ssg_b_")
    try:
        import random

        rng = random.Random(43)
        arows = [(i, f"2024-01-01 00:{i % 30:02d}:00",
                  rng.uniform(-85, 85), rng.uniform(-180, 180))
                 for i in range(100)] + [(900, "2024-01-01 00:05:00",
                                          80.5, 76.0)]
        brows = [(j, f"2024-01-01 00:{j % 30:02d}:30",
                  rng.uniform(-85, 85), rng.uniform(-180, 180))
                 for j in range(120)] + [(901, "2024-01-01 00:06:30",
                                          80.5, 166.0)]
        schema = "id long, ts_s string, lat double, lon double"
        a = spark.createDataFrame(arows, schema).withColumn(
            "ts", F.to_timestamp("ts_s")).drop("ts_s")
        b = spark.createDataFrame(brows, schema).withColumn(
            "ts", F.to_timestamp("ts_s")).drop("ts_s")
        a.write.mode("overwrite").parquet(da)
        b.write.mode("overwrite").parquet(db)
        sa = spark.readStream.schema(a.schema).parquet(da)
        sb = spark.readStream.schema(b.schema).parquet(db)
        out = streaming_stream_geo_distance_join(
            sa, sb, 1500.0, watermark="30 minutes",
            time_bound="5 minutes")
        got = sorted(
            (r.a_id, r.b_id)
            for r in _run_stream(spark, out.select("a_id", "b_id"),
                                 "ssg_join_out").collect())
        # batch truth: spherical pairs within r, filtered by |Δt|
        pairs = geo_distance_join(
            a.select(F.col("id").alias("a_id"),
                     F.col("lat").alias("a_lat"),
                     F.col("lon").alias("a_lon"),
                     F.col("ts").alias("a_ts")),
            b.select(F.col("id").alias("b_id"),
                     F.col("lat").alias("b_lat"),
                     F.col("lon").alias("b_lon"),
                     F.col("ts").alias("b_ts")),
            1500.0, lat_l="a_lat", lon_l="a_lon",
            lat_r="b_lat", lon_r="b_lon")
        want = sorted(
            (r.a_id, r.b_id) for r in pairs.filter(
                (F.col("b_ts") >= F.col("a_ts") - F.expr("INTERVAL 5 MINUTES"))
                & (F.col("b_ts") <= F.col("a_ts") + F.expr("INTERVAL 5 MINUTES"))
            ).collect())
        assert got == want and (900, 901) in set(got)
    finally:
        shutil.rmtree(da, ignore_errors=True)
        shutil.rmtree(db, ignore_errors=True)


def test_streaming_windowed_ohlc_matches_batch(spark):
    """Streaming OHLC ≡ batch timeseries.ohlc over replayed rows: the
    algebraic struct-min/max open/close picks equal the batch
    row_number picks whenever (ts, tiebreak) is total, and the cent
    sum is exact either way. State per open bar is O(1)."""
    import shutil
    import tempfile

    from simba_spark.operators.timeseries import ohlc
    from simba_spark.streaming.ops import streaming_windowed_ohlc

    d = tempfile.mkdtemp(prefix="simba_ohlc_stream_")
    try:
        rows = [
            (i, f"2024-01-01 00:{(i * 7) % 10:02d}:{(13 * i) % 60:02d}",
             "click" if i % 3 else "view", round(10.0 + (i * 37 % 100) / 3.0, 2))
            for i in range(300)
        ]
        # duplicate-timestamp pair exercising the tiebreak order
        rows += [(900, "2024-01-01 00:03:00", "click", 1.23),
                 (901, "2024-01-01 00:03:00", "click", 99.99)]
        # watermark sentinel: far-future row closes both real windows
        rows += [(999, "2024-01-01 09:00:00", "sentinel", 0.0)]
        df = (
            spark.createDataFrame(
                rows, "event_id long, ts_s string, event_type string, value double"
            )
            .withColumn("ts", F.to_timestamp("ts_s"))
            .drop("ts_s")
        )
        df.write.mode("overwrite").parquet(d)
        src = spark.readStream.schema(df.schema).parquet(d)
        out = streaming_windowed_ohlc(
            src, ts_col="ts", val_col="value", key_cols=["event_type"],
            window="5 minutes", tiebreak_col="event_id",
        )
        got = {
            (r.bucket, r.event_type): (r.open, r.high, r.low, r.close,
                                       r.n, r.val_sum)
            for r in _run_stream(spark, out, "stream_ohlc_out").collect()
        }
        batch = {
            (r.bucket, r.event_type): (r.open, r.high, r.low, r.close,
                                       r.n, r.val_sum)
            for r in ohlc(
                df.filter("event_type <> 'sentinel'"),
                "ts", "value", key_cols=["event_type"],
                bucket="5 minutes", tiebreak_col="event_id",
            ).collect()
        }
        assert got == batch
        assert len(got) >= 4
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_streaming_session_window_stats_matches_batch(spark):
    """Native session_window streaming sessions ≡ the batch lag-based
    sessionize over replayed rows: same gap semantics, first/last
    event times, counts, and exact cent sums."""
    import shutil
    import tempfile

    from simba_spark.operators.sessionize import sessionize
    from simba_spark.streaming.ops import streaming_session_window_stats

    d = tempfile.mkdtemp(prefix="simba_sesswin_stream_")
    try:
        rows = []
        eid = 0
        # user 1: two sessions split by a 40-min gap; user 2: one session
        for mins in (0, 5, 12, 60, 66):
            rows.append((eid, f"2024-01-01 00:{0:02d}:00", 1, 10.5))
            rows[-1] = (eid, "2024-01-01 %02d:%02d:00" % (mins // 60, mins % 60), 1, 10.5)
            eid += 1
        for mins in (30, 45):
            rows.append((eid, "2024-01-01 00:%02d:00" % mins, 2, 1.25))
            eid += 1
        rows.append((999, "2024-01-02 12:00:00", 7, 0.0))  # watermark sentinel
        df = (
            spark.createDataFrame(
                rows, "event_id long, ts_s string, user_id long, value double"
            )
            .withColumn("ts", F.to_timestamp("ts_s"))
            .drop("ts_s")
        )
        df.write.mode("overwrite").parquet(d)
        src = spark.readStream.schema(df.schema).parquet(d)
        out = streaming_session_window_stats(
            src, ts_col="ts", key_col="user_id", gap="30 minutes",
            watermark="10 minutes", val_col="value",
        )
        got = {
            (r.user_id, r.session_start, r.session_end): (r.n_events, r.val_sum)
            for r in _run_stream(spark, out, "stream_sesswin_out").collect()
            if r.user_id != 7
        }
        # batch twin: lag-based sessionize with the same 30-min gap
        ses = sessionize(
            df.filter("user_id <> 7"), "ts", "user_id",
            gap_ns=30 * 60 * 10**9, order_tiebreak="event_id",
        )
        batch = {
            (r.user_id, r.session_start, r.session_end): (r.n_events, r.val_sum)
            for r in ses.groupBy("user_id", "session_idx")
            .agg(
                F.min("ts").alias("session_start"),
                F.max("ts").alias("session_end"),
                F.count(F.lit(1)).alias("n_events"),
                (F.sum(F.round(F.col("value") * 100.0, 0).cast("long"))
                 / 100.0).alias("val_sum"),
            )
            .drop("session_idx")
            .collect()
        }
        assert got == batch
        assert len(got) == 3  # user 1 twice, user 2 once
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_stream_stream_interval_join_matches_batch(spark):
    """Stream-stream interval overlap ≡ the batch interval_overlap_join
    over replayed streams: canonical-bin emission keeps pairs unique,
    the max_len range constraint bounds (and evicts) state."""
    import shutil
    import tempfile

    from simba_spark.operators.interval import interval_overlap_join
    from simba_spark.streaming.ops import streaming_stream_interval_join

    da = tempfile.mkdtemp(prefix="simba_ivs_a_")
    db = tempfile.mkdtemp(prefix="simba_ivs_b_")
    try:
        # sessions on two services; overlaps within/at bin borders,
        # touching endpoints, nested intervals, and disjoint pairs
        a_rows = [
            (0, "2024-01-01 00:00:00", "2024-01-01 00:30:00"),
            (1, "2024-01-01 00:45:00", "2024-01-01 01:40:00"),
            (2, "2024-01-01 02:00:00", "2024-01-01 02:05:00"),
            (3, "2024-01-01 03:00:00", "2024-01-01 03:10:00"),
            (9, "2024-01-01 09:00:00", "2024-01-01 09:00:30"),  # sentinel
        ]
        b_rows = [
            (10, "2024-01-01 00:20:00", "2024-01-01 00:50:00"),
            (11, "2024-01-01 01:40:00", "2024-01-01 02:00:00"),  # touches 1 & 2
            (12, "2024-01-01 02:01:00", "2024-01-01 02:03:00"),  # nested in 2
            (13, "2024-01-01 05:00:00", "2024-01-01 05:01:00"),  # disjoint
            (19, "2024-01-01 09:00:00", "2024-01-01 09:00:30"),  # sentinel
        ]
        adf = (
            spark.createDataFrame(a_rows, "a_id long, s string, e string")
            .select("a_id", F.to_timestamp("s").alias("start"),
                    F.to_timestamp("e").alias("end"))
        )
        bdf = (
            spark.createDataFrame(b_rows, "b_id long, s string, e string")
            .select("b_id", F.to_timestamp("s").alias("start"),
                    F.to_timestamp("e").alias("end"))
        )
        adf.write.mode("overwrite").parquet(da)
        bdf.write.mode("overwrite").parquet(db)
        sa = spark.readStream.schema(adf.schema).parquet(da)
        sb = spark.readStream.schema(bdf.schema).parquet(db)
        out = streaming_stream_interval_join(
            sa, sb, bin_width_seconds=900.0, max_len="2 hours",
            watermark="5 minutes",
        )
        got = {
            (r["a_a_id"], r["b_b_id"])
            for r in _run_stream(spark, out, "stream_iv_out").collect()
            if r["a_a_id"] != 9 and r["b_b_id"] != 19
        }
        batch = interval_overlap_join(
            adf.filter("a_id <> 9").select(
                "a_id",
                F.unix_timestamp("start").cast("double").alias("start"),
                F.unix_timestamp("end").cast("double").alias("end")),
            bdf.filter("b_id <> 19").select(
                "b_id",
                F.unix_timestamp("start").cast("double").alias("start"),
                F.unix_timestamp("end").cast("double").alias("end")),
            "start", "end", "start", "end", bin_width=900.0,
        )
        exp = {(r["a_a_id"], r["b_b_id"]) for r in batch.collect()}
        assert got == exp
        # the fixture covers border/touch/nested shapes
        assert (1, 11) in exp and (2, 11) in exp and (2, 12) in exp
        assert (3, 13) not in exp
    finally:
        shutil.rmtree(da, ignore_errors=True)
        shutil.rmtree(db, ignore_errors=True)


def test_stream_stream_geo_knn_join_matches_batch(spark):
    """Stream-stream spherical kNN ≡ the batch window-partitioned
    haversine top-k over replayed streams, including an antimeridian
    site where raw-degree L2 would pick the wrong neighbors."""
    import shutil
    import tempfile

    from simba_spark.operators.geo import haversine_km
    from simba_spark.streaming.ops import streaming_stream_geo_knn_join

    da = tempfile.mkdtemp(prefix="simba_geoknn_a_")
    db = tempfile.mkdtemp(prefix="simba_geoknn_b_")
    try:
        # left: query sites incl. one at the antimeridian and one polar
        a_rows = [
            (0, "2024-01-01 00:01:00", 0.0, 179.9),
            (1, "2024-01-01 00:02:00", 89.5, 10.0),
            (2, "2024-01-01 00:03:00", 48.1, 11.5),
            (3, "2024-01-01 00:12:00", -33.9, 151.2),  # second window
            (9, "2024-01-01 02:00:00", 0.0, 0.0),      # sentinel
        ]
        # right: candidates straddling the antimeridian / near the pole
        b_rows = [
            (10, "2024-01-01 00:01:30", 0.0, -179.95),
            (11, "2024-01-01 00:04:00", 0.2, 179.5),
            (12, "2024-01-01 00:05:00", 0.0, 170.0),
            (13, "2024-01-01 00:06:00", 89.6, 190.0 - 360.0),
            (14, "2024-01-01 00:07:00", 48.2, 11.6),
            (15, "2024-01-01 00:13:00", -33.8, 151.3),
            (19, "2024-01-01 02:00:00", 0.0, 0.0),     # sentinel
        ]
        schema = "event_id long, ts_s string, lat double, lon double"
        adf = spark.createDataFrame(a_rows, schema).withColumn(
            "ts", F.to_timestamp("ts_s")).drop("ts_s")
        bdf = spark.createDataFrame(b_rows, schema).withColumn(
            "ts", F.to_timestamp("ts_s")).drop("ts_s")
        adf.write.mode("overwrite").parquet(da)
        bdf.write.mode("overwrite").parquet(db)
        sa = spark.readStream.schema(adf.schema).parquet(da)
        sb = spark.readStream.schema(bdf.schema).parquet(db)
        out = streaming_stream_geo_knn_join(
            sa, sb, k=2, window="10 minutes", watermark="5 minutes")
        got = {
            (r["a_event_id"], r["b_event_id"], round(r["dist_km"], 6))
            for r in _run_stream(spark, out, "stream_geoknn_out").collect()
            if r["a_event_id"] != 9
        }
        # batch oracle: same-window haversine top-2 per left event
        from pyspark.sql import Window as W

        lw = adf.filter("event_id <> 9").select(
            F.col("event_id").alias("a_id"), F.col("lat").alias("a_lat"),
            F.col("lon").alias("a_lon"),
            F.window("ts", "10 minutes").alias("__win"))
        rw = bdf.filter("event_id <> 19").select(
            F.col("event_id").alias("b_id"), F.col("lat").alias("b_lat"),
            F.col("lon").alias("b_lon"),
            F.window("ts", "10 minutes").alias("__win"))
        j = lw.join(rw, "__win").withColumn(
            "d", haversine_km(F.col("a_lat"), F.col("a_lon"),
                              F.col("b_lat"), F.col("b_lon")))
        ranked = j.withColumn(
            "rn", F.row_number().over(
                W.partitionBy("__win", "a_id").orderBy(
                    F.asc("d"), F.asc("b_id"))))
        exp = {
            (r["a_id"], r["b_id"], round(r["d"], 6))
            for r in ranked.filter("rn <= 2").collect()
        }
        assert got == exp
        # the antimeridian query's nearest neighbor is across the seam
        assert any(a == 0 and b == 10 for a, b, _ in got)
    finally:
        shutil.rmtree(da, ignore_errors=True)
        shutil.rmtree(db, ignore_errors=True)
