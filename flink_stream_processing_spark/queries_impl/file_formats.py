"""File-format source/sink queries: CSV, JSON-lines, and ORC round-trips.

Each query exports the events table in the target format once (cached per
sf_dir), reads it back through the schema-on-read path (explicit schema —
inferSchema would be a full extra pass at 100 TB), and aggregates per
event type including min/max event-time millis — so the oracle (the same
aggregate straight off the canonical parquet in DuckDB) certifies that
values AND microsecond timestamps survive the format round-trip, gating
both the sink and the source for each format.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..queries import query
from ..sources.batch import export_table, load_table, load_table_fmt

_EXPORT_DIRS: dict[tuple[str, str], str] = {}


def _events_in_format(spark: SparkSession, sf_dir: str, fmt: str) -> DataFrame:
    key = (sf_dir, fmt)
    d = _EXPORT_DIRS.get(key)
    if d is None or not os.path.isdir(d):
        d = tempfile.mkdtemp(prefix=f"events_{fmt}_")
        export_table(spark, sf_dir, "events", fmt, d)
        _EXPORT_DIRS[key] = d
    return load_table_fmt(spark, d, load_table(spark, sf_dir, "events").schema, fmt)


_ROUNDTRIP_ORACLE = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS cnt,
       round(sum(value), 2) AS sum_value,
       min(epoch_ms(ts))::BIGINT AS min_ts_ms,
       max(epoch_ms(ts))::BIGINT AS max_ts_ms
FROM events
GROUP BY event_type
ORDER BY event_type
"""


def _roundtrip_agg(df: DataFrame) -> DataFrame:
    return (
        df.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.sum("value"), 2).alias("sum_value"),
            F.min(F.unix_millis("ts")).alias("min_ts_ms"),
            F.max(F.unix_millis("ts")).alias("max_ts_ms"),
        )
        .orderBy("event_type")
    )


@query("csv_source_roundtrip", oracle=_ROUNDTRIP_ORACLE)
def q_csv_source_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _roundtrip_agg(_events_in_format(spark, sf_dir, "csv"))


@query("json_source_roundtrip", oracle=_ROUNDTRIP_ORACLE)
def q_json_source_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _roundtrip_agg(_events_in_format(spark, sf_dir, "json"))


@query("orc_source_roundtrip", oracle=_ROUNDTRIP_ORACLE)
def q_orc_source_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _roundtrip_agg(_events_in_format(spark, sf_dir, "orc"))


@query("xml_source_roundtrip", oracle=_ROUNDTRIP_ORACLE)
def q_xml_source_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 NATIVE XML source/sink (built-in since 4.0 — no external
    spark-xml package): same round-trip gate as csv/json/orc, with an
    explicit schema (rowTag rows; no inference pass at 100 TB)."""
    return _roundtrip_agg(_events_in_format(spark, sf_dir, "xml"))


# Oracle = the batch datasource oracle (same Lehmer synthesis, full range).
_PYDS_STREAM_ORACLE = """
WITH g AS (
  SELECT i, (i * 48271) % 2147483647 AS h
  FROM (SELECT unnest(generate_series(0, 999)) AS i)
)
SELECT i AS txn_id,
       (h % 1000000) / 100.0 AS amount,
       ['USD', 'EUR', 'GBP', 'JPY', 'CNY'][(h % 5) + 1] AS currency,
       CASE WHEN h % 5 = 4 THEN 0.0 ELSE ((h % 400) + 50) / 100.0 END
         AS exchange_rate
FROM g
ORDER BY txn_id
"""


@query("python_datasource_stream", oracle=_PYDS_STREAM_ORACLE)
def q_python_datasource_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The custom Python source consumed as a STREAM
    (``SimpleDataSourceStreamReader``): offsets are plain row counters, so
    micro-batch replay is exact and the drained stream must equal the
    batch reader's rows — the hash gate proves offset bookkeeping
    loses/dups nothing across micro-batches (4 batches of 250 here). The
    stream is driven with a short processingTime trigger until the
    deterministic source exhausts its 1000-row range, then stopped — the
    bounded-drain idiom for sources with no end-of-data signal
    (availableNow snapshots only one simple-reader batch)."""
    import time
    import uuid

    from ..sources.pydatasource import register

    register(spark)
    name = f"pyds_{uuid.uuid4().hex[:10]}"
    stream = (
        spark.readStream.format("txn_gen")
        .option("rows", "1000")
        .option("batch_rows", "250")
        .load()
    )
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    try:
        deadline = time.time() + 120
        while time.time() < deadline and spark.table(name).count() < 1000:
            time.sleep(0.5)
    finally:
        q.stop()
    out = spark.table(name).localCheckpoint(eager=True)
    return out.select(
        "txn_id",
        F.round("amount", 6).alias("amount"),
        "currency",
        F.round("exchange_rate", 6).alias("exchange_rate"),
    ).orderBy("txn_id")


_JDBC_DIRS: dict[str, str] = {}


_JDBC_ORACLE = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(value), 2) AS sum_value
FROM events
GROUP BY event_type
ORDER BY event_type
"""


@query("jdbc_source_roundtrip", oracle=_JDBC_ORACLE)
def q_jdbc_source_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JDBC as a SOURCE (the reference only sinks to JDBC): the per-type
    aggregate is written once to a live embedded-Derby database through
    the JDBC writer, then read BACK via ``spark.read.jdbc`` and compared
    against the parquet-side oracle — gating type mapping (BIGINT/DOUBLE/
    VARCHAR) through a real database in both directions. PostgreSQL swaps
    in via url/properties; at scale the read parallelizes with
    partitionColumn bounds (documented, single-partition here — the
    aggregate is 5 rows)."""
    props = {"driver": "org.apache.derby.iapi.jdbc.AutoloadedDriver"}
    d = _JDBC_DIRS.get(sf_dir)
    if d is None or not os.path.isdir(d):
        d = tempfile.mkdtemp(prefix="jdbc_src_")
        url = f"jdbc:derby:{d}/eventsdb;create=true"
        agg = (
            load_table(spark, sf_dir, "events")
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.round(F.sum("value"), 2).alias("sum_value"),
            )
        )
        agg.write.mode("overwrite").jdbc(url, "event_aggs", properties=props)
        _JDBC_DIRS[sf_dir] = d
    url = f"jdbc:derby:{_JDBC_DIRS[sf_dir]}/eventsdb"
    return (
        spark.read.jdbc(url, "event_aggs", properties=props)
        .select("event_type", "n_events", "sum_value")
        .orderBy("event_type")
    )


_UPSERT_DIRS: dict[str, str] = {}


@query("jdbc_upsert_convergence", oracle=_JDBC_ORACLE)
def q_jdbc_upsert_convergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K3 replay-safety as a hard driver row: an update-mode keyed
    aggregate streams into a live embedded-Derby table through the
    DELETE+INSERT upsert sink (``write_jdbc_upsert``) TWICE — the second
    run starts from a FRESH checkpoint, i.e. a full replay of every
    micro-batch from offset zero onto the already-populated table — then
    the table is read back via the JDBC source. Convergence to the plain
    batch aggregate (the oracle) is exactly the sink's replay-safe claim:
    a non-idempotent sink would double every count on the replay, and a
    broken partial-window overwrite would leave a stale mid-stream value.
    The stream runs in >=2 micro-batches (maxFilesPerTrigger over a
    multi-file copy), so intermediate upserts of PARTIAL aggregates are
    genuinely exercised and then replaced. Derby here, PostgreSQL in
    production via url/properties (the DML is ANSI either way).
    Reference scope: StreamJob.java:176-215 (append-only JDBC sink)."""
    from ..streaming.pipeline import events_file_stream, write_jdbc_upsert

    props = {"driver": "org.apache.derby.iapi.jdbc.AutoloadedDriver"}
    d = _UPSERT_DIRS.get(sf_dir)
    if d is None or not os.path.isdir(d):
        d = tempfile.mkdtemp(prefix="jdbc_upsert_")
        src = os.path.join(d, "src")
        load_table(spark, sf_dir, "events").repartition(4).write.parquet(src)
        url = f"jdbc:derby:{d}/upsertdb;create=true"
        for run in range(2):  # run 0 populates; run 1 replays from zero
            agg = (
                events_file_stream(spark, src, max_files_per_trigger=2)
                .groupBy("event_type")
                .agg(
                    F.count(F.lit(1)).alias("n_events"),
                    F.round(F.sum("value"), 2).alias("sum_value"),
                )
            )
            q = (
                write_jdbc_upsert(
                    agg,
                    url,
                    "event_upserts",
                    keys=["event_type"],
                    properties=props,
                    create_column_types="event_type VARCHAR(32)",
                    checkpoint=os.path.join(d, f"ckpt{run}"),
                )
                .trigger(availableNow=True)
                .start()
            )
            try:
                if not q.awaitTermination(300):
                    raise TimeoutError(
                        "jdbc upsert stream did not finish within 300 s"
                    )
            finally:
                if q.isActive:
                    q.stop()
        _UPSERT_DIRS[sf_dir] = d
    url = f"jdbc:derby:{_UPSERT_DIRS[sf_dir]}/upsertdb"
    return (
        spark.read.jdbc(url, "event_upserts", properties=props)
        .select("event_type", "n_events", "sum_value")
        .orderBy("event_type")
    )


# --- schema evolution (mergeSchema across parquet generations) ------------

_EVOLVE_DIRS: dict[str, str] = {}

_EVOLVE_ORACLE = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS cnt,
       CAST(count(CASE WHEN event_id % 2 = 1 THEN props END) AS BIGINT)
         AS props_present
FROM events
GROUP BY event_type ORDER BY event_type
"""


@query("schema_evolution_merge", oracle=_EVOLVE_ORACLE)
def q_schema_evolution_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution across parquet generations: an old generation
    written WITHOUT the ``props`` column (even event_ids) and a new
    generation with it (odd event_ids), read back as ONE dataset via
    ``mergeSchema`` — missing columns surface as NULLs. This is how a
    100 TB table ingests years of files as its schema grows, without
    rewriting history; the footer-merge costs one metadata pass, so
    production pins the merged schema in a catalog and reads with it
    explicitly (the shape this query verifies)."""
    base = _EVOLVE_DIRS.get(sf_dir)
    ev = load_table(spark, sf_dir, "events")
    if base is None or not os.path.isdir(base):
        base = tempfile.mkdtemp(prefix="events_evolve_")
        old_gen = ev.filter(F.col("event_id") % 2 == 0).drop("props")
        new_gen = ev.filter(F.col("event_id") % 2 == 1)
        old_gen.write.mode("overwrite").parquet(os.path.join(base, "gen=0"))
        new_gen.write.mode("overwrite").parquet(os.path.join(base, "gen=1"))
        _EVOLVE_DIRS[sf_dir] = base
    merged = (
        spark.read.option("mergeSchema", "true")
        .option("recursiveFileLookup", "true")
        .parquet(base)
    )
    return (
        merged.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("cnt"),
            F.count("props").cast("bigint").alias("props_present"),
        )
        .orderBy("event_type")
    )


# --- Dynamic partition overwrite (r5) --------------------------------------

_DPO_DIRS: dict[str, str] = {}

# Final state: every event, except purchases carry doubled values (the
# restated partition). Counts prove no other partition was touched.
_DPO_ORACLE = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS cnt,
       round(sum(CASE WHEN event_type = 'purchase' THEN value * 2
                      ELSE value END), 2) AS sum_value
FROM events
GROUP BY event_type
ORDER BY event_type
"""


@query("dynamic_partition_overwrite", oracle=_DPO_ORACLE)
def q_dynamic_partition_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned table + DYNAMIC partition overwrite — the daily
    incremental-write pattern of a 100 TB table: the full events table is
    written partitioned by event_type, then a restatement batch containing
    ONLY the purchase partition (values doubled) is written with
    ``partitionOverwriteMode=dynamic`` — replacing exactly the partitions
    present in the batch and leaving every other partition's files
    untouched (STATIC mode would truncate the whole table first; the
    difference is the entire point). The read-back aggregate must equal
    the restated oracle, and partition pruning on the directory layout is
    what makes the per-partition replacement O(changed partition) at any
    table size."""
    d = _DPO_DIRS.get(sf_dir)
    ev = load_table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    if d is None or not os.path.isdir(d):
        d = tempfile.mkdtemp(prefix="events_dpo_")
        tbl = os.path.join(d, "events_by_type")
        ev.write.mode("overwrite").partitionBy("event_type").parquet(tbl)
        restated = ev.filter(F.col("event_type") == "purchase").withColumn(
            "value", F.col("value") * 2
        )
        # Per-WRITE option (DataFrameWriter override of the session conf,
        # available since Spark 2.4): scopes the dynamic mode to exactly
        # this write — no session-conf swap for concurrent queries to see.
        (
            restated.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("event_type")
            .parquet(tbl)
        )
        _DPO_DIRS[sf_dir] = d
    tbl = os.path.join(_DPO_DIRS[sf_dir], "events_by_type")
    return (
        spark.read.parquet(tbl)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("cnt"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .orderBy("event_type")
    )
