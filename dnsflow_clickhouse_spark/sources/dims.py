"""Dimension-table loaders.

The reference collects every dimension to the driver and captures it in
closures (reference: DnsRptCH.scala:796-855, 146-200); here dimensions
are ordinary DataFrames (from parquet fixtures, python rows, or JDBC)
that downstream operators broadcast-join. Fixture injection for tests is
therefore trivial: pass any DataFrame with the right schema.

External-system connectivity (MySQL via JDBC, reference Utils.scala:105-117;
ClickHouse JDBC, ClickUtils.scala:22-33) is kept behind ``read_jdbc`` /
``write_jdbc`` — same Spark API, driver jars not bundled in this repo.
Redis-backed dims (reference: JedisPool.scala, DnsRptCH.scala:146-350) are
modeled as "small python collections fetched driver-side" -> ``dim_from_rows``;
the Redis client itself is out of scope of the engine and injected by the
caller (import-gated).
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def dim_from_rows(spark: SparkSession, rows: Iterable[tuple], schema: T.StructType) -> DataFrame:
    """Small driver-side collection -> DataFrame (for broadcast joins)."""
    return spark.createDataFrame(list(rows), schema=schema)


def read_jdbc(
    spark: SparkSession,
    url: str,
    table: str,
    properties: dict[str, str] | None = None,
) -> DataFrame:
    """JDBC dimension read (reference: Utils.scala:105-117 ReadMysql)."""
    reader = spark.read.format("jdbc").option("url", url).option("dbtable", table)
    for k, v in (properties or {}).items():
        reader = reader.option(k, v)
    return reader.load()


def write_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    batchsize: int = 100_000,
    num_partitions: int = 1,
    properties: dict[str, str] | None = None,
) -> None:
    """JDBC append sink with the reference's batching defaults
    (reference: ClickUtils.scala:22-33 — batchsize 100000, single writer
    partition, no transaction isolation)."""
    writer = (
        df.coalesce(num_partitions)
        .write.format("jdbc")
        .mode("append")
        .option("url", url)
        .option("dbtable", table)
        .option("batchsize", str(batchsize))
        .option("isolationLevel", "NONE")
    )
    for k, v in (properties or {}).items():
        writer = writer.option(k, v)
    writer.save()


def _jdbc_connect(spark: SparkSession, url: str, properties: dict[str, str] | None):
    """Driver-side ``java.sql.Connection`` through the py4j gateway —
    the control channel for the idempotent sink's tiny bookkeeping
    statements (exists-check, scrub, commit mark). Registers the driver
    class first when given (Spark's own JDBC path does the same)."""
    jvm = spark._jvm
    props = dict(properties or {})
    drv = props.pop("driver", None)
    if drv:
        jvm.java.lang.Class.forName(drv)
    jprops = jvm.java.util.Properties()
    for k, v in props.items():
        jprops.setProperty(k, v)
    return jvm.java.sql.DriverManager.getConnection(url, jprops)


def write_jdbc_idempotent(
    df: DataFrame,
    url: str,
    table: str,
    batch_id: int,
    batchsize: int = 100_000,
    num_partitions: int = 1,
    properties: dict[str, str] | None = None,
    on_before_commit_mark=None,
) -> str:
    """Exactly-once-per-batch JDBC sink — the reference's real sink is
    a bare JDBC append whose retries DUPLICATE rows (ClickUtils.scala:
    29-32 swallows errors; ``isolationLevel=NONE``). This wrapper makes
    a replayed batch converge to one copy, mirroring
    ``io.write_report_idempotent``'s parquet contract for the JDBC
    backend (round-10 verdict #3):

    1. a ``<table>__commits (batch_id)`` marker table records which
       batches have COMPLETED;
    2. a replay whose ``batch_id`` is already marked returns
       ``"skipped"`` without touching data;
    3. an unmarked replay first DELETEs the batch's stragglers (rows a
       crashed attempt wrote before dying — every data row carries its
       ``batch_id``), appends the batch, then inserts the commit mark
       LAST. A crash at any point leaves either (no mark, partial rows
       -> scrubbed and rewritten on replay) or (mark present, full rows
       -> skipped on replay); duplicates are impossible at any retry
       count — for SEQUENTIAL retries of one writer per batch_id, the
       contract ``foreachBatch`` provides (Spark replays a failed batch
       under the same id, one attempt at a time). The exists-check /
       scrub / append / mark sequence is NOT atomic across writers: a
       zombie driver racing its restarted successor on the same
       batch_id could both pass the exists-check and double-append
       (r11 advice). If concurrent same-batch writers are possible in
       your deployment, take a mutex first — e.g. INSERT the batch_id
       into a lock table with a PRIMARY KEY before appending and abort
       on key violation.

    Safe from ``foreachBatch`` with the streaming batch id (Spark
    replays a failed batch under the same id). The bookkeeping
    statements are driver-side single-row JDBC ops; the data append is
    Spark's distributed JDBC writer, untouched. Scale note: the DELETE
    is keyed on ``batch_id`` — on a real warehouse give the column an
    index (ClickHouse: partition by batch_id, drop-partition instead of
    delete). Returns ``"written"`` or ``"skipped"``.

    ``on_before_commit_mark`` (tests/ops hook): called after the data
    append, before the mark insert — the restart drill raises here to
    simulate the kill window.
    """
    from pyspark.sql import functions as F

    spark = df.sparkSession
    commits = f"{table}__commits"
    bid = int(batch_id)
    conn = _jdbc_connect(spark, url, properties)
    try:
        st = conn.createStatement()
        try:
            st.executeUpdate(
                f"CREATE TABLE {commits} (batch_id BIGINT PRIMARY KEY)"
            )
        except Exception:
            pass  # exists already (Derby has no IF NOT EXISTS)
        rs = st.executeQuery(
            f"SELECT 1 FROM {commits} WHERE batch_id = {bid}"
        )
        committed = rs.next()
        rs.close()
        if committed:
            return "skipped"
        try:
            # Spark's JDBC writer quotes COLUMN identifiers (the table
            # name passes through verbatim), so the scrub must quote
            # "batch_id" the same way or Derby/ANSI folds it to
            # BATCH_ID and misses — a silent miss here is exactly the
            # duplicate-on-retry this sink exists to prevent
            st.executeUpdate(
                f'DELETE FROM {table} WHERE "batch_id" = {bid}'
            )
        except Exception:
            # acceptable ONLY when the data table itself does not exist
            # yet (first-ever batch); any other scrub failure must
            # surface — swallowing it re-opens the duplicate window
            try:
                st.executeQuery(f"SELECT 1 FROM {table}").close()
            except Exception:
                pass  # table truly absent: nothing to scrub
            else:
                raise
        write_jdbc(
            df.withColumn("batch_id", F.lit(bid)),
            url,
            table,
            batchsize=batchsize,
            num_partitions=num_partitions,
            properties=properties,
        )
        if on_before_commit_mark is not None:
            on_before_commit_mark()
        st.executeUpdate(f"INSERT INTO {commits} VALUES ({bid})")
        return "written"
    finally:
        conn.close()
