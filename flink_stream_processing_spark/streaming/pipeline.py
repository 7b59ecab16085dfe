"""Structured Streaming pipelines (SURVEY.md §2.4, §2.2 sinks).

Reference mapping:
- W1 bounded out-of-orderness 5 s (StreamJob.java:62-65) ->
  ``withWatermark(ts, "5 seconds")``
- W2 monotonous timestamps (StreamJob.java:102-105) ->
  ``withWatermark(ts, "0 seconds")``
- W4 late-data drop: Structured Streaming drops rows behind the watermark in
  windowed aggs — the same implicit behavior as the reference's window
  assigner without allowedLateness.
- K1/K2 print sinks -> console sink; K3 JDBC sink -> foreachBatch jdbc
  append (the reference's batch-size-1/200 ms flush is subsumed by
  micro-batch granularity); checkpointing is enabled (the reference never
  enables it — a strict upgrade, SURVEY.md §4).

Scale: the streaming window agg is a stateful partial+final hash aggregate;
state is keyed by window, sized O(open windows), checkpointed. The
reference instead buffers every event per window on one thread
(AllWindowFunction, parallelism 1) — Spark's plan shards the same
computation across executors and keeps only accumulators in state.

State partitions: ``session.get_spark`` gives every stateful operator of a
new query one state partition on a local master (one store commit per
operator and micro-batch, the parallelism the reference keeps state at);
on a cluster the count follows ``spark.sql.shuffle.partitions``. A query's
checkpoint fixes its count: restarts keep it, and changing it takes a new
checkpoint.

100 TB state story: the default HDFS-backed state store keeps every
partition's state on-heap — fine for O(open windows) aggregates, but a
high-cardinality stateful op (streaming dedup over billions of keys,
session windows per user) needs the RocksDB provider, which spills state
to local SSD with incremental checkpointing:

    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    spark.conf.set(
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
        "true")  # checkpoint = changelog, not full snapshots

Not enabled by default here because local-mode tests exercise tiny state;
the knob is config-only — every stateful operator in this package runs
unchanged on either provider, proven by
``tests/test_streaming.py::test_rocksdb_state_store_parity`` (flagship
aggregate on the RocksDB provider, batch-exact result, RocksDB custom
metrics present in the query progress).
"""

from __future__ import annotations

import re

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ..operators.risk import format_risk_lines, label_risk
from ..operators.window_metrics import session_windows, window_metrics

# events parquet read as a stream. The driver has generated ts as
# TIMESTAMP(NANOS) in some rounds (arrives as an epoch-nanos long under
# nanosAsLong) and TIMESTAMP(MICROS) in others (arrives as TimestampType);
# the stream schema is picked per-path by probing the static footer, same
# dtype test as sources/batch.load_table.
def _events_stream_schema(ts_is_long: bool) -> StructType:
    return StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", LongType() if ts_is_long else TimestampType()),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
            StructField("props", StringType()),
        ]
    )


def events_file_stream(
    spark: SparkSession,
    path: str,
    max_files_per_trigger: int | None = None,
    ts_is_long: bool | None = None,
) -> DataFrame:
    """The ``events`` table as a file stream (test stand-in for the Kafka
    topic; S1/S2). One source DataFrame can fan out to both the risk and
    metrics sinks — the reference reads the topic twice instead.

    ``ts_is_long`` pins the ts physical type explicitly; when None it is
    probed from the static footer. The probe throws if the directory is
    empty at stream start (a legitimate deployment state — files arrive
    later), so that case falls back to the epoch-nanos long layout the
    driver generates."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    if ts_is_long is None:
        try:
            static_dtypes = dict(spark.read.parquet(path).dtypes)
            ts_is_long = static_dtypes.get("ts") == "bigint"
        except AnalysisException:
            ts_is_long = True
    reader = spark.readStream.schema(_events_stream_schema(ts_is_long))
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    df = reader.parquet(path)
    if ts_is_long:
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def streaming_window_metrics(
    tx: DataFrame,
    watermark: str = "5 seconds",
    window_duration: str = "10 seconds",
) -> DataFrame:
    """Streaming form of the flagship aggregate (A1-A5 + W1/W2): the batch
    :func:`window_metrics` over the watermarked stream. Append mode emits
    each window once its end passes the watermark; late rows are dropped
    (W4)."""
    return window_metrics(tx.withWatermark("ts", watermark), window_duration)


def streaming_session_windows(
    events: DataFrame,
    gap: str = "10 minutes",
    key: str = "user_id",
    watermark: str = "5 seconds",
) -> DataFrame:
    """Streaming per-key session windows: the batch :func:`session_windows`
    over the watermarked stream. Spark keeps per-key open-session state,
    merges sessions when a new event bridges two, and the watermark bounds
    how long a session can stay open for late events. The output is the
    batch operator's, so the same gaps-and-islands oracle gates both
    paths."""
    return session_windows(events.withWatermark("ts", watermark), gap, key)


def risk_stream(tx: DataFrame, threshold: float = 1000.0) -> DataFrame:
    """P2+P3 streaming path: label and format for the console sink."""
    return format_risk_lines(label_risk(tx, threshold=threshold))


def write_console(df: DataFrame, checkpoint: str | None = None) -> DataStreamWriter:
    w = df.writeStream.format("console").outputMode("append")
    if checkpoint:
        w = w.option("checkpointLocation", checkpoint)
    return w


def write_memory(
    df: DataFrame, name: str, output_mode: str = "append", available_now: bool = True
) -> StreamingQuery:
    """Memory sink for tests: processes everything available, then stops."""
    w = df.writeStream.format("memory").queryName(name).outputMode(output_mode)
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()


_PLAIN_IDENT = re.compile(r"^[A-Za-z_][A-Za-z0-9_$]*$")
_QUOTED_IDENT = re.compile(r'^"[^"]+"$')


def _check_sql_identifier(table: str) -> None:
    """Accept what Spark's JDBC writer accepts: a plain identifier (emitted
    verbatim, resolved through the DB's case folding — same path as the
    writer's own CREATE/INSERT) or a pre-quoted one for mixed-case /
    reserved-word names. Anything else fails here, loudly, instead of
    producing merge DML that parses differently from the writer's
    statements (or not at all)."""
    if not (_PLAIN_IDENT.match(table) or _QUOTED_IDENT.match(table)):
        raise ValueError(
            f"table name {table!r} is neither a plain SQL identifier nor a "
            f'pre-quoted one ("Name"); pass it pre-quoted'
        )


def _staging_name(table: str) -> str:
    """`t` -> `t_staging`; pre-quoted `"T"` -> `"T_staging"`."""
    if _QUOTED_IDENT.match(table):
        return f'{table[:-1]}_staging"'
    return f"{table}_staging"


def _jdbc_connection(spark: SparkSession, url: str, props: dict[str, str]):
    """Driver-side java.sql.Connection honoring the full JDBC properties
    dict (user/password/driver/...), matching what the executor-side
    ``DataFrameWriter.jdbc`` uses — a bare ``getConnection(url)`` only
    works when credentials are embedded in the URL (e.g. test Derby)."""
    jvm = spark._jvm
    driver_cls = props.get("driver")
    if driver_cls:
        try:
            jvm.java.lang.Class.forName(driver_cls)
        except Exception:
            # driver jar absent on the driver classpath is fine when the
            # DriverManager can already resolve the URL scheme (Derby
            # embedded in tests registers itself).
            pass
    jprops = jvm.java.util.Properties()
    for k, v in props.items():
        if k != "driver":
            jprops.setProperty(k, str(v))
    return jvm.java.sql.DriverManager.getConnection(url, jprops)


def _default_checkpoint(prefix: str) -> str:
    """Fresh unique checkpoint dir. A FIXED default path would make
    unrelated runs resume each other's checkpoints — the restarted query
    then treats the previous run's listed files as already processed
    (silent data loss) or aborts on metadata mismatch. Production
    deployments pass an explicit durable location; the unique default is
    for ad-hoc/test runs, where cross-run resume is never wanted."""
    import tempfile

    return tempfile.mkdtemp(prefix=prefix)


def write_jdbc_metrics(
    df: DataFrame,
    url: str,
    table: str = "remittance_metrics",
    properties: dict[str, str] | None = None,
    checkpoint: str | None = None,
) -> DataStreamWriter:
    """K3: JDBC sink via foreachBatch append (StreamJob.java:176-215). Each
    micro-batch holds the newly-closed windows, so the reference's
    batch-size-1 cadence is subsumed. Delivery is AT-LEAST-ONCE to the
    table: a crash between the JDBC commit and Spark's micro-batch commit
    log replays that batch's append on restart (the reference's own JDBC
    append has the same contract). For exactly-once-converging state use
    ``write_jdbc_upsert`` — its keyed DELETE+INSERT makes replays
    idempotent. Exercised end-to-end against a live embedded-Derby JDBC
    database in tests/test_jdbc_sink.py (PostgreSQL swaps in via
    url/properties)."""
    props = {"driver": "org.postgresql.Driver", **(properties or {})}
    if checkpoint is None:
        checkpoint = _default_checkpoint("ckpt-remittance-metrics-")

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("append").jdbc(url, table, properties=props)

    return (
        df.writeStream.foreachBatch(write_batch)
        .outputMode("append")
        .option("checkpointLocation", checkpoint)
    )


def write_jdbc_upsert(
    df: DataFrame,
    url: str,
    table: str,
    keys: list[str],
    properties: dict[str, str] | None = None,
    checkpoint: str | None = None,
    output_mode: str = "update",
    create_column_types: str | None = None,
) -> DataStreamWriter:
    """K3 extension: REPLAY-SAFE keyed JDBC upsert. The plain append sink
    (write_jdbc_metrics) is at-least-once: a crash between the JDBC commit
    and the micro-batch commit log replays that batch's append, and so do
    ``update`` output mode (windows re-emit as events arrive) and a
    checkpoint loss — each duplicates rows (making the append itself
    idempotent is ROADMAP.md Direction 4). This sink makes every
    micro-batch an idempotent upsert keyed on ``keys``:

      1. the batch overwrites a staging table (data flows executor -> DB
         over JDBC; nothing is collected to the driver),
      2. one driver-side transaction runs DELETE-matching-keys + INSERT
         from staging — only DML strings cross the driver, the merge runs
         inside the database.

    Identifier contract: ``table``/``keys``/columns follow Spark's own JDBC
    writer — plain identifiers are emitted verbatim (resolving through the
    database's case folding, Derby->upper / PostgreSQL->lower, exactly as
    the writer's CREATE/INSERT do); a mixed-case or reserved-word table must
    be passed pre-quoted (``table='"MyTable"'``), and anything else is
    rejected at construction instead of silently targeting a different
    table. Precondition (asserted per batch inside the merge txn): the
    micro-batch carries at most one row per key — true for update-mode
    keyed aggregations, the sink's intended input; a duplicate-keyed batch
    raises instead of inserting duplicates.

    Under update mode the target table CONVERGES to the batch-query result
    (stale partial windows are replaced on every re-emission), so a replay
    from offset zero — or running the whole stream twice — lands on the
    identical table. The DELETE+INSERT pair is ANSI (EXISTS subquery), so
    Derby in tests and PostgreSQL in production run the same statements.
    At scale the per-batch cost is O(changed keys), not O(table): the
    staging table only ever holds one micro-batch's updated windows, and
    its name is unique per sink INSTANCE (concurrent queries upserting the
    same target cannot clobber each other's staging data mid-merge; the
    per-instance staging table is left behind on teardown — drop it with
    the checkpoint when decommissioning a query).
    Reference scope: StreamJob.java:176-215 writes append-only JDBC; this
    is the upgrade a restartable deployment of that job needs."""
    import uuid

    props = {"driver": "org.postgresql.Driver", **(properties or {})}
    _check_sql_identifier(table)
    # Key names are spliced into the merge DML inside double quotes —
    # validate at CONSTRUCTION (the docstring's contract) so a bad key
    # fails here, not as a per-batch SQL syntax error (or, with hostile
    # names, DML injection into the driver-side transaction).
    for k in keys:
        if not _PLAIN_IDENT.match(k) or '"' in k:
            raise ValueError(
                f"upsert key {k!r} is not a plain SQL identifier; keys are "
                f"quoted verbatim into the merge DML"
            )
    # Per-sink-instance staging name: a FIXED derivative of the target
    # would let two concurrent upsert queries on the same table (rolling
    # restart overlap, twin pipelines) overwrite each other's staging data
    # between the stage write and the merge txn — one query would then
    # merge the other's rows and silently lose its own batch.
    staging = _staging_name(f"{table}_{uuid.uuid4().hex[:8]}")
    key_tuple = ", ".join(f'"{k}"' for k in keys)
    target_created = False

    def upsert_batch(batch_df: DataFrame, batch_id: int) -> None:
        nonlocal target_created
        cols = batch_df.columns
        for c in cols:
            if '"' in c:
                raise ValueError(
                    f"column {c!r} contains a double quote; it cannot be "
                    f"spliced into the merge DML"
                )
        missing = [k for k in keys if k not in cols]
        if missing:
            raise ValueError(
                f"upsert keys {missing} are not columns of the micro-batch "
                f"({cols})"
            )
        # creates the target on the FIRST batch only (JDBC append creates
        # missing tables; limit(0) ships no rows) — not per batch, which
        # would add a Spark job + JDBC round-trip to every batch forever.
        # ``create_column_types`` (Spark's createTableColumnTypes DDL
        # fragment) overrides the dialect's default type mapping — required
        # for STRING key columns on dialects that map them to CLOB/TEXT
        # types the merge DML cannot compare (Derby: GROUP BY/EXISTS on
        # CLOB is an error).
        stager = batch_df.write.mode("overwrite")
        if create_column_types:
            stager = stager.option("createTableColumnTypes", create_column_types)
        if not target_created:
            creator = batch_df.limit(0).write.mode("append")
            if create_column_types:
                creator = creator.option(
                    "createTableColumnTypes", create_column_types
                )
            creator.jdbc(url, table, properties=props)
            target_created = True
        stager.jdbc(url, staging, properties=props)
        # table-name-qualified correlation (not an alias): the one DELETE
        # spelling both Derby and PostgreSQL accept. Columns must be
        # double-quoted — Spark's JDBC writer creates them as quoted
        # (case-exact) identifiers.
        pred = " AND ".join(f'{table}."{k}" = s."{k}"' for k in keys)
        col_list = ", ".join(f'"{c}"' for c in cols)
        conn = _jdbc_connection(batch_df.sparkSession, url, props)
        try:
            conn.setAutoCommit(False)
            st = conn.createStatement()
            # precondition gate: at most one row per key per micro-batch
            # (update-mode keyed aggregation output). Staging holds one
            # micro-batch, so this scan is O(batch), not O(table).
            rs = st.executeQuery(
                f"SELECT COUNT(*) FROM (SELECT {key_tuple} FROM {staging} "
                f"GROUP BY {key_tuple} HAVING COUNT(*) > 1) d"
            )
            rs.next()
            n_dup_keys = rs.getLong(1)
            rs.close()
            if n_dup_keys:
                raise ValueError(
                    f"write_jdbc_upsert batch {batch_id}: {n_dup_keys} keys "
                    f"appear more than once in the micro-batch; the upsert "
                    f"sink requires one row per key per batch (use an "
                    f"update-mode keyed aggregation upstream)"
                )
            st.executeUpdate(
                f"DELETE FROM {table} WHERE EXISTS "
                f"(SELECT 1 FROM {staging} s WHERE {pred})"
            )
            st.executeUpdate(
                f"INSERT INTO {table} ({col_list}) SELECT {col_list} FROM {staging}"
            )
            conn.commit()
            st.close()
        except Exception:
            conn.rollback()
            raise
        finally:
            conn.close()

    if checkpoint is None:
        checkpoint = _default_checkpoint("ckpt-remittance-upsert-")
    return (
        df.writeStream.foreachBatch(upsert_batch)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint)
    )
