"""Table catalog: load the driver's parquet tables and register views.

Reference analog: the JDBC scan of ``landing.job_listings``
(``dags/spark_etl_script.py:65-72``) that feeds every downstream
operator — here the landing zone is columnar parquet, so Catalyst gets
predicate pushdown + column pruning + vectorized reads for free.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from . import cachereg

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one synthetic table (single parquet file per table).

    ``events.ts`` is physically timestamp[us] with no timezone, which
    Spark reads natively as TIMESTAMP_NTZ — filters on it push into the
    scan. Older fixtures stored TIMESTAMP(NANOS), which the vectorized
    reader rejects; the bigint sniff below keeps that layout working
    (legacy nanosAsLong read + micros rebuild, truncation — matching
    how micros engines like DuckDB ingest nanos).

    The reader frame is memoized: it is a plan, nothing is persisted,
    but ``spark.read.parquet`` runs a one-task schema-inference JOB per
    call and the suite loads tables hundreds of times per pass. The
    key carries the file's size and mtime from one ``os.stat``, so a
    file replaced mid-session gets a fresh plan instead of a stale
    schema."""
    st = os.stat(os.path.join(sf_dir, f"{name}.parquet"))
    return cachereg.memo(
        spark,
        sf_dir,
        "catalog",
        (name, st.st_size, st.st_mtime_ns),
        lambda: _read_table(spark, sf_dir, name),
    )


def _read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        from pyspark.sql import functions as F

        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
        if dict(df.dtypes).get("ts") == "bigint":
            # Keep the raw nanos column: predicates on the derived
            # timestamp cannot push into the scan, but their exact
            # nanos translation can (see incremental.filter_after).
            # `div` = integral long division. floor(ts/1000.0) would
            # detour through double and mis-round by 1 µs at int64
            # nanos magnitudes (> 2^53).
            df = df.withColumn("ts_nanos", F.col("ts")).withColumn(
                "ts", F.timestamp_micros(F.expr("ts_nanos div 1000"))
            )
        return df
    return spark.read.parquet(path)


def load_table_dist(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    cols: tuple[str, ...] | None = None,
    persist: bool = True,
) -> DataFrame:
    """``load_table`` for map-heavy consumers (hashing, shingling,
    keyword scans): if the scan yields fewer partitions than the
    cluster has slots — single-row-group files can never split, so a
    small-SF corpus scans as ONE task — round-robin repartition to
    defaultParallelism and persist (memoized per session).

    Scale posture: at 100 TB inputs carry thousands of row groups and
    the scan already saturates the cluster, so the condition is false
    and this is exactly ``load_table`` — no repartition shuffle is ever
    added on big inputs.

    ``cols`` prunes the projection BEFORE any persist, so the parquet
    scan's ReadSchema carries only those columns and the cached
    relation is no wider than the query needs (caching a full-width
    table would silently defeat column pruning — the plan-quality
    tests check this).
    """

    def spread() -> DataFrame:
        df = load_table(spark, sf_dir, name)
        if cols is not None:
            df = df.select(*cols)
        slots = spark.sparkContext.defaultParallelism
        # Estimate scan tasks from file bytes (an .rdd probe would cost
        # a full plan→RDD conversion): ceil(bytes / maxPartitionBytes)
        # is the upper bound on split count Spark will attempt.
        n_bytes = os.path.getsize(os.path.join(sf_dir, f"{name}.parquet"))
        max_split = int(
            spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728").rstrip("b")
        )
        if -(-n_bytes // max_split) < slots:
            df = df.repartition(slots)
            # persist=False: the caller materializes a derived frame
            # immediately (e.g. star.landing persists the joined
            # landing) — caching the repartitioned input too would
            # double-materialize.
            if persist:
                df = cachereg.pin(df.persist())
        return df

    return cachereg.memo(
        spark, sf_dir, "catalog", ("dist", name, cols, persist), spread
    )


def load_tables(
    spark: SparkSession, sf_dir: str, register: bool = True
) -> dict[str, DataFrame]:
    """Load all tables; optionally register each as a temp view so the
    SQL surface (plans/bi.py) can run ``spark.sql`` against them."""
    dfs: dict[str, DataFrame] = {}
    for name in TABLES:
        df = load_table(spark, sf_dir, name)
        dfs[name] = df
        if register:
            df.createOrReplaceTempView(name)
    return dfs
