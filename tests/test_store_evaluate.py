"""Store + evaluate integration tests.

Mirrors the reference's service-layer goldens (SURVEY.md §5):
* routing fan-out across two mock repos -> first values [1,2,3] in
  input order (test_dtss_host.py:54-61)
* store-merge: [1,2,3] at t0..2 then [4,5,6] at t3..5 -> [1..6]
  (test_dtss_host.py:102-134)
* incremental collection idempotence (test_data_collection_task.py:66-106)
"""

from datetime import datetime, timedelta, timezone

import pytest
from pyspark.sql import functions as F

from my_weather_spark.evaluate import TsEngine
from my_weather_spark.model import UtcPeriod
from my_weather_spark.pipeline import (
    DataCollectionPeriodAbsolute,
    DataCollectionTask,
)
from my_weather_spark.session import EngineSession
from my_weather_spark.sources.heartbeat import HeartbeatAdapter
from my_weather_spark.sources.mock import MockAdapter
from my_weather_spark.store import TsStore


def _dt(s):
    return datetime.fromtimestamp(s, tz=timezone.utc)


@pytest.fixture()
def engine(spark, tmp_path):
    sess = EngineSession(spark)
    sess.register_adapter(MockAdapter("mock1", dt_seconds=1))
    sess.register_adapter(MockAdapter("mock2", dt_seconds=1))
    sess.register_adapter(HeartbeatAdapter())
    store = TsStore(spark, str(tmp_path / "ts_store"))
    return TsEngine(sess, store)


def test_routing_fanout_preserves_input_order(engine):
    # golden: FIXTURES.md / reference test_dtss_host.py:54-61
    ids = [
        "mock1://something/1",
        "mock2://something_else/2",
        "mock1://something_strange/3",
    ]
    res = engine.evaluate(ids, UtcPeriod(0, 9))
    rows = res.collect()  # ordered by (query_index, ts)
    firsts = {}
    for r in rows:
        firsts.setdefault(r["query_index"], r["value"])
    assert [firsts[i] for i in range(3)] == [1.0, 2.0, 3.0]
    # every series spans the inclusive period at 1 Hz -> 10 points each
    assert len(rows) == 30


def test_unknown_scheme_raises(engine):
    with pytest.raises(KeyError, match="bogus"):
        engine.evaluate(["bogus://x/1"], UtcPeriod(0, 1))


def test_heartbeat_grid_is_global_and_survives_fractional_start(spark):
    from my_weather_spark.sources.heartbeat import synthetic_series

    # fractional-second start in the last second of a day used to hand
    # sequence() inverted bounds for that day (job-killing); and a dt
    # that doesn't divide 86400 must keep ONE global grid across
    # midnight, not re-anchor per day.
    p = UtcPeriod(86399.5, 86400 + 3600)  # 23:59:59.5 day0 -> 01:00 day1
    pts = sorted(
        synthetic_series(spark, ["h://x/1"], p, value=1.0, dt_seconds=7).collect(),
        key=lambda r: r["ts"],
    )
    epochs = [r["ts"].replace(tzinfo=None).timestamp() - _dt(0).replace(tzinfo=None).timestamp() for r in pts]
    # every point on the global grid start + k*7
    assert all(abs((e - 86399.5) % 7) < 1e-6 for e in epochs)
    # constant cadence across the midnight boundary
    deltas = {round(b - a, 6) for a, b in zip(epochs, epochs[1:])}
    assert deltas == {7.0}
    assert epochs[0] >= 86399.5 and epochs[-1] <= 86400 + 3600


def test_evaluate_dedups_across_store_sources(spark, tmp_path):
    from my_weather_spark.session import EngineSession
    from my_weather_spark.store import TsStore
    from my_weather_spark.evaluate import TsEngine

    sid = "shyft://x/station/mod/temp"
    store = TsStore(spark, str(tmp_path / "xsrc"))
    df = spark.createDataFrame(
        [(sid, _dt(0), 1.0), (sid, _dt(1), 2.0)],
        "series_id string, ts timestamp, value double",
    )
    store.store(df, source="a", ingest_time=_dt(100))
    store.store(df, source="b", ingest_time=_dt(200))  # same series, 2nd source
    eng = TsEngine(EngineSession(spark), store)
    out = eng.evaluate([sid], UtcPeriod(0, 10)).collect()
    # one row per (query_index, ts), not one per source
    assert len(out) == 2
    assert [r["value"] for r in out] == [1.0, 2.0]


def test_fresh_store_dedups_intra_batch(spark, tmp_path):
    # The FIRST write into a brand-new store must collapse intra-batch
    # duplicate (series_id, ts) keys exactly like the merge path does —
    # dedup behavior must not depend on whether the store existed.
    from my_weather_spark.store import TsStore

    store = TsStore(spark, str(tmp_path / "fresh"))
    df = spark.createDataFrame(
        [("s1", _dt(0), 1.0), ("s1", _dt(0), 2.0), ("s1", _dt(1), 3.0)],
        "series_id string, ts timestamp, value double",
    )
    store.store(df, ingest_time=_dt(100))
    rows = sorted(store.scan().collect(), key=lambda r: r["ts"])
    assert len(rows) == 2
    assert rows[0]["value"] == 2.0  # merge_dedup's desc-value tie-break
    assert rows[1]["value"] == 3.0


def test_store_merge_union_of_time_ranges(spark, engine):
    # golden: reference test_dtss_host.py:116-128 ([1,2,3] + [4,5,6] -> [1..6])
    sid = "shyft://netatmo/superstation/livingroom/temperature"
    df1 = spark.createDataFrame(
        [(sid, _dt(t), float(v)) for t, v in [(0, 1), (1, 2), (2, 3)]],
        "series_id string, ts timestamp, value double",
    )
    df2 = spark.createDataFrame(
        [(sid, _dt(t), float(v)) for t, v in [(3, 4), (4, 5), (5, 6)]],
        "series_id string, ts timestamp, value double",
    )
    engine.store_ts(df1, ingest_time=_dt(1000))
    engine.store_ts(df2, ingest_time=_dt(2000))
    out = engine.evaluate([sid], UtcPeriod(0, 100)).collect()
    assert [r["value"] for r in out] == [1.0, 2.0, 3.0, 4.0, 5.0, 6.0]


def test_store_merge_overwrites_same_ts_with_newest(spark, engine):
    sid = "shyft://netatmo/s/m/t"
    df1 = spark.createDataFrame(
        [(sid, _dt(0), 1.0), (sid, _dt(1), 2.0)],
        "series_id string, ts timestamp, value double",
    )
    df2 = spark.createDataFrame(
        [(sid, _dt(1), 99.0)], "series_id string, ts timestamp, value double"
    )
    engine.store_ts(df1, ingest_time=_dt(1000))
    engine.store_ts(df2, ingest_time=_dt(2000))
    out = engine.evaluate([sid], UtcPeriod(0, 10)).collect()
    assert [r["value"] for r in out] == [1.0, 99.0]


def test_store_overwrite_on_write_replaces_series(spark, engine):
    sid = "shyft://netatmo/s/m/t2"
    df1 = spark.createDataFrame(
        [(sid, _dt(0), 1.0), (sid, _dt(1), 2.0)],
        "series_id string, ts timestamp, value double",
    )
    df2 = spark.createDataFrame(
        [(sid, _dt(5), 9.0)], "series_id string, ts timestamp, value double"
    )
    engine.store_ts(df1, ingest_time=_dt(1000))
    engine.store_ts(df2, overwrite_on_write=True, ingest_time=_dt(2000))
    out = engine.evaluate([sid], UtcPeriod(0, 10)).collect()
    assert [r["value"] for r in out] == [9.0]


def test_find_over_store(spark, engine):
    sid = "shyft://netatmo/findme/m/t"
    df = spark.createDataFrame(
        [(sid, _dt(0), 1.0), (sid, _dt(9), 2.0)],
        "series_id string, ts timestamp, value double",
    )
    engine.store_ts(df, ingest_time=_dt(1000))
    info = engine.find(sid).collect()
    assert len(info) == 1
    assert info[0]["n_points"] == 2
    # full TsInfo field set (reference repository.py:293-301)
    assert set(info[0].asDict()) == {
        "name", "point_fx", "delta_t", "olson_tz_id",
        "data_period_start", "data_period_end", "created", "modified",
        "n_points",
    }
    assert info[0]["delta_t"] == 9.0  # mode of point spacing
    assert info[0]["created"] == _dt(1000).replace(tzinfo=None)
    assert info[0]["modified"] == _dt(1000).replace(tzinfo=None)
    assert info[0]["point_fx"] is None  # no catalog attached


def test_find_tsinfo_domain_enrichment(spark, engine):
    # with a measurement catalog attached, store-side TsInfo carries
    # point_fx and the station timezone, like the reference's TsInfo
    sid = "shyft://netatmo/superstation/ute/temperature"
    df = spark.createDataFrame(
        [(sid, _dt(0), 1.0), (sid, _dt(60), 2.0), (sid, _dt(120), 3.0)],
        "series_id string, ts timestamp, value double",
    )
    engine.store_ts(df, ingest_time=_dt(500))
    cat = spark.createDataFrame(
        [(sid, "instant", "Europe/Oslo")],
        "store_id string, point_fx string, timezone string",
    )
    engine.catalog = cat
    info = engine.find(sid).collect()
    assert len(info) == 1
    assert info[0]["point_fx"] == "instant"
    assert info[0]["olson_tz_id"] == "Europe/Oslo"
    assert info[0]["delta_t"] == 60.0


def test_incremental_collection_idempotent(spark, engine):
    # mirror of reference test_data_collection_task.py:66-106:
    # pass 1 over [0, 3600] then pass 2 over [3600, 7200]; endpoints of
    # both passes present; re-ingestion of the overlap point (3600) is
    # deduped, total = 7201 points at 1 Hz inclusive.
    read_ids = ["mock1://station/7"]
    store_ids = ["shyft://collected/station/module/seven"]
    task1 = DataCollectionTask(
        "short", engine, read_ids, store_ids,
        DataCollectionPeriodAbsolute(_dt(0), _dt(3600)),
    )
    task1.collect(now=_dt(5000))
    first = engine.evaluate(store_ids, UtcPeriod(0, 10**6)).collect()
    assert len(first) == 3601
    assert first[0]["ts"].second == 0

    task2 = DataCollectionTask(
        "short2", engine, read_ids, store_ids,
        DataCollectionPeriodAbsolute(_dt(3600), _dt(7200)),
    )
    task2.collect(now=_dt(9000))
    second = engine.evaluate(store_ids, UtcPeriod(0, 10**6)).collect()
    assert len(second) == 7201  # 0..7200 inclusive, overlap deduped
    assert all(r["value"] == 7.0 for r in second[:5])


def test_engine_healthy(engine):
    assert engine.healthy()


def test_large_series_vector_semi_join(spark, engine):
    # >200 ids takes the broadcast semi-join path
    sid = "shyft://many/s/m/t"
    df = spark.createDataFrame(
        [(sid, _dt(i), float(i)) for i in range(5)],
        "series_id string, ts timestamp, value double",
    )
    engine.store_ts(df, ingest_time=_dt(1000))
    ids = [sid] + [f"shyft://many/s/m/none{i}" for i in range(300)]
    out = engine.evaluate(ids, UtcPeriod(0, 100))
    rows = out.collect()
    assert len(rows) == 5
    assert all(r["query_index"] == 0 for r in rows)


def test_store_compaction_preserves_data(spark, engine):
    sid = "shyft://compact/s/m/t"
    for batch in range(3):
        df = spark.createDataFrame(
            [(sid, _dt(batch * 10 + i), float(i)) for i in range(10)],
            "series_id string, ts timestamp, value double",
        )
        engine.store_ts(df, ingest_time=_dt(1000 + batch))
    before = engine.evaluate([sid], UtcPeriod(0, 1000)).collect()
    engine.store.compact()
    after = engine.evaluate([sid], UtcPeriod(0, 1000)).collect()
    assert [r["value"] for r in after] == [r["value"] for r in before]
    assert len(after) == 30


def test_store_compaction_zorder_clusters_both_dims(spark, tmp_path):
    from my_weather_spark.store import TsStore

    store = TsStore(spark, str(tmp_path / "zstore"))
    # 8 series x 400 points, one day — enough rows for multiple files
    rows = [
        (f"shyft://z/s{s}", _dt(i * 60), float(s * 1000 + i))
        for s in range(8)
        for i in range(400)
    ]
    df = spark.createDataFrame(rows, "series_id string, ts timestamp, value double")
    store.store(df, source="zsrc")
    store.compact(target_records_per_file=400, cluster="zorder")

    out = spark.read.parquet(store.path)
    assert out.count() == 3200  # round-trips

    per_file = (
        out.withColumn("f", F.input_file_name())
        .groupBy("f")
        .agg(
            F.countDistinct("series_id").alias("n_series"),
            (F.unix_timestamp(F.max("ts")) - F.unix_timestamp(F.min("ts"))).alias(
                "ts_span"
            ),
        )
        .collect()
    )
    assert len(per_file) >= 4
    full_span = 399 * 60
    # z-clustering: every file covers a narrow range of BOTH dims —
    # a linear (series, ts) sort would give files with ts_span == full
    assert all(r["n_series"] <= 4 for r in per_file)
    assert all(r["ts_span"] <= full_span * 0.75 for r in per_file)

    with pytest.raises(ValueError):
        store.compact(cluster="hilbert")


def test_evaluate_duplicate_ids_keep_positions(engine):
    ids = ["mock1://a/1", "mock1://a/1", "mock2://b/2"]
    rows = engine.evaluate(ids, UtcPeriod(0, 4)).collect()
    per_idx = {}
    for r in rows:
        per_idx.setdefault(r["query_index"], []).append(r["value"])
    # both positions of the duplicated id are materialized
    assert len(per_idx[0]) == 5 and len(per_idx[1]) == 5
    assert per_idx[0] == per_idx[1] == [1.0] * 5
    assert per_idx[2] == [2.0] * 5


def test_bucketed_serving_layout_avoids_shuffle(engine, spark):
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    # store three series across two days
    rows = [
        (f"shyft://bt/s{i}/m/Temperature", _dt(86400 * d + 60 * j), float(i + j))
        for i in range(3)
        for d in range(2)
        for j in range(5)
    ]
    df = spark.createDataFrame(rows, "series_id string, ts timestamp, value double")
    engine.store_ts(df)
    try:
        bt = engine.store.as_bucketed_table("bt_serving", n_buckets=4)
        # per-series window over the bucketed table: no shuffle planned
        w = W.partitionBy("series_id").orderBy("ts")
        lagged = bt.withColumn("prev", F.lag("value").over(w))
        plan = lagged._jdf.queryExecution().executedPlan().toString()
        assert "Exchange hashpartitioning" not in plan
        # and values round-trip exactly vs the plain store scan
        got = sorted(
            (r["series_id"], r["ts"], r["value"]) for r in bt.collect()
        )
        want = sorted(
            (r["series_id"], r["ts"], r["value"])
            for r in engine.store.scan().collect()
        )
        assert got == want and len(got) == 30
    finally:
        spark.sql("DROP TABLE IF EXISTS bt_serving")


_A, _B = "shyft://s/a/m/t", "shyft://s/b/m/t"
_DAY = 86400
_TS = "series_id string, ts timestamp, value double"


def _ts(s):
    return _dt(s).replace(tzinfo=None)


# store() calls as (rows, source, ingest_time epoch, overwrite_on_write);
# rows are (series_id, ts, value[, ingest_time])
_EXTEND = [
    ([(_A, _dt(0), 1.0), (_A, _dt(60), 2.0), (_B, _dt(30), 5.0)], "src1", 1000, False),
    # second merge batch extends series a in both directions
    ([(_A, _dt(-60), 0.5), (_A, _dt(120), 3.0)], "src1", 2000, False),
    # re-ingesting the same batch changes nothing
    ([(_A, _dt(-60), 0.5), (_A, _dt(120), 3.0)], "src1", 2000, False),
]
# hourly cadence crossing a date boundary (23:00, 00:00, 01:00, 03:00),
# one point then replaced by a newer ingest; s is a single point
_HOURLY = [
    (
        [("m", _dt(_DAY - 3600), 1.0), ("m", _dt(_DAY), 2.0),
         ("m", _dt(_DAY + 3600), 3.0), ("m", _dt(_DAY + 3 * 3600), 4.0),
         ("s", _dt(0), 9.0)],
        "src1", 1000, False,
    ),
    ([("m", _dt(_DAY), 2.5)], "src1", 2000, False),
]
_IRREGULAR_N = 1030
# spacings 1, 2, 3, ... us: every spacing distinct
_IRREGULAR = [
    (
        [
            ("irr", _dt(0) + timedelta(microseconds=i * (i + 1) // 2), float(i))
            for i in range(_IRREGULAR_N)
        ],
        "src1", 1000, False,
    )
]

_FIND_CASES = {
    "merge_extends_both_directions": (
        _EXTEND,
        {},
        {
            _A: {"data_period_start": _ts(-60), "data_period_end": _ts(120),
                 "created": _ts(1000), "modified": _ts(2000),
                 "n_points": 4, "delta_t": 60.0},
            _B: {"data_period_start": _ts(30), "data_period_end": _ts(30),
                 "n_points": 1, "delta_t": None},
        },
    ),
    "whole_series_replace_resets_period_and_created": (
        _EXTEND + [([(_A, _dt(500), 9.0)], "src1", 3000, True)],
        {},
        {
            _A: {"data_period_start": _ts(500), "data_period_end": _ts(500),
                 "created": _ts(3000), "modified": _ts(3000), "n_points": 1},
            _B: {"data_period_start": _ts(30), "created": _ts(1000),
                 "modified": _ts(1000), "n_points": 1},
        },
    ),
    "pattern_filter": (_EXTEND, {"pattern": "//s/a/"}, {_A: {"n_points": 4}}),
    "hourly_across_date_with_replaced_point": (
        _HOURLY,
        {},
        {
            "m": {"data_period_start": _ts(_DAY - 3600),
                  "data_period_end": _ts(_DAY + 3 * 3600),
                  "created": _ts(1000), "modified": _ts(2000),
                  "n_points": 4, "delta_t": 3600.0},
            "s": {"n_points": 1, "delta_t": None},
        },
    ),
    "interleaved_second_source": (
        _HOURLY
        + [([("m", _dt(_DAY + 1800), 5.0), ("m", _dt(_DAY + 5400), 6.0)],
            "src2", 3000, False)],
        {},
        {
            "m": {"created": _ts(1000), "modified": _ts(3000),
                  "n_points": 6, "delta_t": 1800.0},
            "s": {"n_points": 1, "delta_t": None},
        },
    ),
    "irregular_spacing_ties_to_smallest": (
        _IRREGULAR,
        {},
        {"irr": {"n_points": _IRREGULAR_N, "delta_t": 1e-06,
                 "created": _ts(1000), "modified": _ts(1000)}},
    ),
    "intra_batch_duplicate_keeps_survivor": (
        # same point twice in one batch: the newer ingest survives
        [([("s/x", _dt(0), 1.0, _dt(1000)), ("s/x", _dt(0), 2.0, _dt(2000))],
          "src1", None, False)],
        {},
        {"s/x": {"created": _ts(2000), "modified": _ts(2000), "n_points": 1}},
    ),
}


def _store_all(spark, store, writes):
    for rows, source, ingest, overwrite in writes:
        schema = _TS + (", ingest_time timestamp" if len(rows[0]) == 4 else "")
        store.store(
            spark.createDataFrame(rows, schema),
            source=source,
            overwrite_on_write=overwrite,
            ingest_time=None if ingest is None else _dt(ingest),
        )


@pytest.mark.parametrize(
    "writes, query, want", list(_FIND_CASES.values()), ids=list(_FIND_CASES)
)
def test_find_tsinfo_after_writes(spark, tmp_path, writes, query, want):
    """find() answers every TsInfo field from the stored points after
    merges, whole-series replaces, multi-source writes and intra-batch
    duplicates."""
    store = TsStore(spark, str(tmp_path / "find_store"))
    _store_all(spark, store, writes)
    got = {r["name"]: r for r in store.find(**query).collect()}
    assert set(got) == set(want)
    for name, fields in want.items():
        for f, v in fields.items():
            assert got[name][f] == v, (name, f, got[name][f])


def test_store_writes_nothing_outside_its_root(spark, tmp_path):
    """The dataset under the store root is the store's only state:
    fresh, merge and whole-series-replace writes leave no sibling
    directory (no derived metadata beside the data)."""
    root = tmp_path / "only_store"
    store = TsStore(spark, str(root))
    _store_all(
        spark, store, _EXTEND[:2] + [([(_A, _dt(500), 9.0)], "src1", 3000, True)]
    )
    assert [p.name for p in tmp_path.iterdir()] == ["only_store"]
    assert store.scan().count() == 2


# Spark jobs run by one merge-mode store() of a small batch into an
# existing store, plus a margin of one. The data path (two checkpoints
# and the partition write, with their AQE stages) measured 9 on Spark
# 4.1; derived state added to the write path shows up here first.
MERGE_STORE_MAX_JOBS = 10


def test_merge_store_job_count(spark, tmp_path):
    store = TsStore(spark, str(tmp_path / "jobs_store"))
    _store_all(spark, store, _EXTEND[:1])
    batch = spark.createDataFrame(_EXTEND[1][0], _TS)
    sc = spark.sparkContext
    group = f"merge-store-jobs-{id(batch)}"
    sc.setJobGroup(group, "merge store() job count")
    try:
        store.store(batch, source="src1", ingest_time=_dt(2000))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert 0 < n_jobs <= MERGE_STORE_MAX_JOBS, n_jobs
    assert store.find().where(F.col("name") == _A).first()["n_points"] == 4
