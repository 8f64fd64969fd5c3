"""TsStore — parquet-backed timeseries store with merge-on-write.

Reference behavior being re-expressed (NOT ported): the DTSS container
store holds binary ts files per repo directory and ``store_ts(...,
overwrite_on_write=False)`` merges new points into existing series —
storing [t0..t3]=1,2,3 then [t3..t6]=4,5,6 yields 1..6
(reference: weather/service/dtss_host.py:141-151, semantics proven at
weather/test/test_dtss_host.py:102-134).

Spark-native design:
* one parquet dataset, long format (series_id, ts, value, ingest_time),
  hive-partitioned by (source, date). ``source`` is the store repo name
  (the container analog), ``date`` the UTC day of ``ts`` — so period
  filters prune partitions and a 100 TB store scans only the touched
  days.
* merge-on-write = read back only the PARTITIONS overlapping the
  incoming batch, union, keep newest ingest per (series_id, ts) via a
  deterministic row_number, and dynamically overwrite just those
  partitions. At scale this is the standard copy-on-write upsert
  pattern (Delta/Hudi MERGE without the table format).
* the dataset under ``path`` is the store's only state: writes keep
  no derived metadata, and ``find()`` derives every TsInfo field from
  a scan of the points.
"""

from __future__ import annotations

from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from my_weather_spark.model import OBSERVATION_SCHEMA, UtcPeriod
from my_weather_spark.ops.timeseries import merge_dedup, period_filter

PARTITION_COLS = ["source", "date"]


def ensure_utc_session(spark: SparkSession) -> None:
    """Pin the session timezone to UTC (dynamically settable).

    The store's ``date`` partition is defined as the UTC day of ``ts``,
    and the rollup layer derives partition dates from UTC-aligned
    bucket starts — both via ``to_date``, which follows the SESSION
    timezone. A non-UTC session would write rows into local-date
    partitions and make date-keyed refreshes overwrite the wrong
    partition, so every write/refresh path sets this defensively —
    and FAILS LOUDLY if a locked-down session refused the set, because
    proceeding would silently corrupt date partitioning (same
    verify-or-raise contract as tables._ensure_reader_conf)."""
    try:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    except Exception:
        pass
    try:
        tz = spark.conf.get("spark.sql.session.timeZone")
    except Exception:
        tz = None
    if tz != "UTC":
        raise RuntimeError(
            f"session timeZone is {tz!r} and could not be set to UTC; "
            "store date partitioning would be wrong — run with a session "
            "that allows spark.sql.session.timeZone=UTC"
        )


class TsStore:
    def __init__(self, spark: SparkSession, path: str) -> None:
        self.spark = spark
        self.path = path

    # -- helpers --------------------------------------------------------
    def _exists(self) -> bool:
        # Use the JVM Hadoop FS (works for any scheme, not just file://).
        jvm = self.spark._jvm
        jsc = self.spark._jsc
        conf = jsc.hadoopConfiguration()
        p = jvm.org.apache.hadoop.fs.Path(self.path)
        return p.getFileSystem(conf).exists(p)

    def _read_all(self) -> DataFrame:
        # Explicit schema: an existing-but-empty store directory (fresh
        # mkdtemp, or all partitions deleted) must read as an empty
        # DataFrame, not fail schema inference.
        return self.spark.read.schema(self._full_schema()).parquet(self.path)

    @staticmethod
    def _with_partitions(df: DataFrame, source: str) -> DataFrame:
        return df.withColumn("source", F.lit(source)).withColumn(
            "date", F.to_date("ts")
        )

    # -- S3: store scan ---------------------------------------------------
    def scan(
        self,
        series_ids: list[str] | None = None,
        period: UtcPeriod | None = None,
        source: str | None = None,
    ) -> DataFrame:
        """Read observations; filters push down to parquet row groups
        and (source, date) partition pruning."""
        df = self._read_all()
        if source is not None:
            df = df.where(F.col("source") == source)
        if period is not None:
            # date-partition pruning + row-group predicate
            df = df.where(
                (F.col("date") >= F.lit(period.start.date()))
                & (F.col("date") <= F.lit(period.end.date()))
            )
            df = period_filter(df, period)
        if series_ids is not None:
            if len(series_ids) <= 200:
                # small vectors: IN-list constant-folds into the scan
                df = df.where(F.col("series_id").isin(series_ids))
            else:
                # large vectors: a giant IN-list bloats the plan and
                # never pushes down — broadcast semi-join instead
                ids = self.spark.createDataFrame(
                    [(s,) for s in set(series_ids)], "series_id string"
                )
                df = df.join(F.broadcast(ids), "series_id", "left_semi")
        return df.select("series_id", "ts", "value", "ingest_time")

    def _full_schema(self):
        from pyspark.sql import types as T

        return T.StructType(
            OBSERVATION_SCHEMA.fields
            + [T.StructField("source", T.StringType()), T.StructField("date", T.DateType())]
        )

    # -- S6/U2: merge-on-write sink --------------------------------------
    def store(
        self,
        df: DataFrame,
        source: str = "default",
        overwrite_on_write: bool = False,
        ingest_time: datetime | None = None,
    ) -> None:
        """Write observations. ``overwrite_on_write=False`` (the
        reference default) merges: existing points at the same
        (series_id, ts) are replaced by the newest ingest, all other
        existing points are kept.
        """
        ensure_utc_session(self.spark)
        it = ingest_time or datetime.now(tz=timezone.utc)
        if "ingest_time" not in df.columns:
            df = df.withColumn("ingest_time", F.lit(it))
        else:
            # Rows arriving with a NULL ingest_time (e.g. a landing file
            # read through OBSERVATION_SCHEMA) must still be stamped —
            # desc(ingest_time) sorts NULLS LAST, so an unstamped row
            # would permanently lose every merge tie to older data.
            df = df.withColumn(
                "ingest_time", F.coalesce(F.col("ingest_time"), F.lit(it))
            )
        incoming = self._with_partitions(
            df.select("series_id", "ts", "value", "ingest_time"), source
        )
        # Collapse intra-batch duplicate (series_id, ts) rows ONCE and
        # materialize: the merge path reads the survivors twice (the
        # touched-partition list and the union).
        # Pre-deduping the batch before the merge-path union is
        # equivalent: the survivor is the max under a total order
        # (ingest_time desc, value desc), so dropping batch-local
        # losers first cannot change the combined winner.
        deduped = merge_dedup(incoming).localCheckpoint(eager=True)

        if not self._exists():
            deduped.write.partitionBy(*PARTITION_COLS).mode(
                "overwrite"
            ).parquet(self.path)
            return

        if overwrite_on_write:
            # Replace whole series: drop ALL existing rows of the
            # incoming series ids (any date), keep other series. This
            # rewrites the dataset (static overwrite) — the rare path;
            # the reference default is merge.
            keep = self._read_all().join(
                F.broadcast(incoming.select("series_id").distinct()),
                "series_id",
                "left_anti",
            )
            out = deduped.unionByName(keep.select(*incoming.columns))
            out = out.localCheckpoint(eager=True)
            out.write.partitionBy(*PARTITION_COLS).option(
                "partitionOverwriteMode", "static"
            ).mode("overwrite").parquet(self.path)
            return

        # Merge path: only read partitions the incoming batch touches.
        touched = deduped.select(*PARTITION_COLS).distinct()
        existing = self._read_all().join(
            F.broadcast(touched), PARTITION_COLS, "left_semi"
        )
        out = merge_dedup(deduped.unionByName(existing))

        # Write to the final location with dynamic partition overwrite
        # (scoped per-write option, not session-global conf). The union
        # plan reads the parquet files being overwritten, so materialize
        # through a staging dataframe first (local checkpoint breaks the
        # lineage to the input files).
        out = out.localCheckpoint(eager=True)
        out.write.partitionBy(*PARTITION_COLS).option(
            "partitionOverwriteMode", "dynamic"
        ).mode("overwrite").parquet(self.path)

    # -- compaction --------------------------------------------------------
    @staticmethod
    def _zvalue(a, b, bits: int = 16):
        """Interleave the low ``bits`` of two long columns (a in even
        positions, b in odd) — the Morton/Z curve key."""
        z = F.lit(0).cast("long")
        for k in range(bits):
            z = z.bitwiseOR(
                F.shiftleft(F.shiftright(a, k).bitwiseAND(F.lit(1)), 2 * k)
            ).bitwiseOR(
                F.shiftleft(F.shiftright(b, k).bitwiseAND(F.lit(1)), 2 * k + 1)
            )
        return z

    def compact(
        self,
        target_records_per_file: int = 5_000_000,
        cluster: str = "linear",
    ) -> None:
        """Rewrite the dataset coalescing small files.

        Repeated incremental merges leave one small file per (partition,
        write); at 100 TB the 5-minute cadence would otherwise produce
        288 files/partition/day and scans degrade on open() overhead.
        Run periodically (the reference's daily backfill slot is the
        natural place).

        ``cluster`` picks the row/row-group clustering inside each
        (source, date) partition:

        * ``"linear"`` — sort by (series_id, ts). Optimal when queries
          always lead with series_id; a ts-only predicate still touches
          every file (each holds its series' full day).
        * ``"zorder"`` — sort by the Morton interleave of the two
          columns' 16-bit percent-rank ordinals. Every output file then
          covers a narrow range of BOTH series_id and ts, so min/max
          stats prune files/row groups for series-only, ts-only, and
          combined predicates alike — the right layout when the store
          serves mixed dashboards. Rank-based ordinals (not hashes)
          keep real value locality, so parquet min/max stay tight.
        """
        df = self._read_all()
        if cluster == "zorder":
            bits = 16
            scale = (1 << bits) - 1
            sw = W.partitionBy(*PARTITION_COLS).orderBy("series_id")
            tw = W.partitionBy(*PARTITION_COLS).orderBy("ts")
            s_ord = (F.percent_rank().over(sw) * scale).cast("long")
            t_ord = (F.percent_rank().over(tw) * scale).cast("long")
            df = (
                df.withColumn("_z", self._zvalue(s_ord, t_ord, bits))
                .sortWithinPartitions("source", "date", "_z")
                .drop("_z")
            )
        elif cluster == "linear":
            df = df.sortWithinPartitions("source", "date", "series_id", "ts")
        else:
            raise ValueError(f"unknown cluster mode: {cluster!r}")
        df = df.localCheckpoint(eager=True)
        (
            df.write.partitionBy(*PARTITION_COLS)
            .option("maxRecordsPerFile", target_records_per_file)
            .option("partitionOverwriteMode", "static")
            .mode("overwrite")
            .parquet(self.path)
        )

    # -- bucketed serving layout -------------------------------------------
    def as_bucketed_table(
        self,
        table_name: str,
        n_buckets: int = 32,
        source: str | None = None,
    ) -> DataFrame:
        """Materialize the store as a ``series_id``-bucketed, ts-sorted
        managed table and return it.

        The hive-partitioned (source, date) layout is optimal for the
        WRITE path (incremental merge touches only its days). For
        read-heavy per-series analytics — windows, as-of joins,
        resamples, all partitioned by series_id — every query re-shuffles
        on series_id. Bucketing by series_id pre-materializes that hash
        partitioning: the scan reports HashPartitioning(series_id) so
        per-series windows and series-series joins over this table plan
        NO Exchange. At 100 TB this turns the dominant recurring shuffle
        into a one-time layout cost (refresh it from the store in the
        daily compaction slot).
        """
        from my_weather_spark.ops.skew import write_bucketed

        df = self._read_all()
        if source is not None:
            df = df.where(F.col("source") == source)
        write_bucketed(
            df.select("series_id", "ts", "value", "ingest_time"),
            table_name,
            "series_id",
            n_buckets=n_buckets,
            sort_col="ts",
        )
        return self.spark.table(table_name)

    # -- find(): catalog over stored series (TsInfo analog) ---------------
    def find(
        self,
        pattern: str | None = None,
        source: str | None = None,
        catalog: DataFrame | None = None,
    ) -> DataFrame:
        """Full per-series TsInfo derived from the store, matching the
        reference's field set (repository.py:293-301): name, point_fx,
        delta_t, olson_tz_id, data_period_start/end, created, modified
        — plus n_points as an engine extra.

        Every field comes from one scan of the stored points (filtered
        by ``source`` and the ``pattern`` regex on series_id), so the
        answer is always the current data: a series stored under
        several sources merges into one row. data_period_start/end are
        the min/max ts, created/modified the min/max ingest_time of the
        surviving points, n_points counts non-null values, and delta_t
        is the per-series mode of point spacing in seconds (dt_mode —
        the store knows the actual cadence; NULL for a single point).
        point_fx and olson_tz_id come from ``catalog``
        (Domain.measurements, keyed by store_id), broadcast-joined;
        NULL when no catalog is given. Both aggregates hash-partition
        by series, so the join plans without an extra exchange.
        """
        from my_weather_spark.ops.timeseries import dt_mode

        df = self._read_all()
        if source is not None:
            df = df.where(F.col("source") == source)
        if pattern is not None:
            df = df.where(F.col("series_id").rlike(pattern))
        base = df.groupBy(F.col("series_id").alias("name")).agg(
            F.min("ts").alias("data_period_start"),
            F.max("ts").alias("data_period_end"),
            F.count("value").alias("n_points"),
            F.min("ingest_time").alias("created"),
            F.max("ingest_time").alias("modified"),
        )
        deltas = dt_mode(df).select(
            F.col("series_id").alias("name"),
            F.col("dt_mode_seconds").alias("delta_t"),
        )
        info = base.join(deltas, "name", "left")
        if catalog is not None:
            cat = catalog.select(
                F.col("store_id").alias("name"),
                "point_fx",
                F.col("timezone").alias("olson_tz_id"),
            )
            info = info.join(F.broadcast(cat), "name", "left")
        else:
            info = info.withColumn("point_fx", F.lit(None).cast("string")).withColumn(
                "olson_tz_id", F.lit(None).cast("string")
            )
        return info.select(
            "name",
            "point_fx",
            "delta_t",
            "olson_tz_id",
            "data_period_start",
            "data_period_end",
            "created",
            "modified",
            "n_points",
        )
