"""SparkSession factory for the engine.

The reference engine builds its Spark context ad-hoc inside
``run_sql_query_in_spark`` (reference: ra2spark/ra2spark.py:121-136) with no
tuning at all — default partitioning, RDD API, Python closures. Here the
session is the single tuned entry point for everything:

* **AQE on** — runtime re-planning (partition coalescing, skew-join
  splitting, dynamic broadcast) is the scale story for 100 TB inputs where
  static stats lie.
* **shuffle.partitions** sized from the available cores for local runs;
  on a real cluster this (and AQE advisory sizes) should be raised so that
  post-shuffle partitions land in the 64-256 MiB range.
* **Arrow enabled** — every Python-touching operator in this engine uses
  pandas UDFs / mapInPandas (Arrow-batched), never row-at-a-time UDFs.
* **nanosAsLong** — tolerates the TIMESTAMP(NANOS) generation of the
  driver's ``events.parquet`` (PySpark 4.x refuses it natively; the flag
  surfaces the column as ``bigint`` nanoseconds). Either physical
  generation — NANOS or MICROS — normalizes to the same engine contract
  in ``catalog.normalize_events``.
* **UTC session timezone** — keeps timestamp arithmetic reproducible and
  aligned with the DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

__all__ = ["get_spark", "default_parallelism", "local_df"]


def local_df(spark: SparkSession, rows, schema: str):
    """Literal rows as an Arrow-backed LocalRelation.

    ``createDataFrame(list_of_tuples)`` parallelizes the rows into a
    Python RDD, so EVERY action that executes the plan re-runs a pickled
    Python scan (+ a round-robin exchange where repartitioned) — measured
    ~0.28 s of fixed overhead per action on a 32-core local session, paid
    by every query that joins a tiny literal table. Routing the same rows
    through pandas + Arrow yields a LocalRelation: embedded in the plan,
    ~free at execution, and eligible for broadcast without a job.

    Columns are matched to ``schema`` POSITIONALLY; rows must be
    NULL-free in numeric columns (pandas would coerce int+None to
    float). Use plain ``createDataFrame`` for anything data-sized.
    """
    import pandas as pd

    if not rows:
        return spark.createDataFrame([], schema)
    pdf = pd.DataFrame(rows)
    # cheap guard against silent positional/type coercion (pandas would
    # turn an int column with a None into float NaN, and numpy scalars
    # or out-of-range ints would coerce without the row-by-row
    # validation plain createDataFrame performs): literal tables are
    # small, so the full check costs microseconds. A raise, not an
    # assert: ``python -O`` strips asserts.
    if pdf.isna().any().any():
        raise ValueError(
            "local_df rows must be NULL-free (pandas coerces int+None to "
            "float); use plain createDataFrame for nullable literals"
        )
    return spark.createDataFrame(pdf, schema)


def default_parallelism() -> int:
    """Worker-thread count for local mode; honours SPARK_GRAFT_CPUS,
    which must be an integer when set."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        try:
            return max(1, int(env))
        except ValueError:
            raise ValueError(
                f"SPARK_GRAFT_CPUS must be an integer, got {env!r}"
            ) from None
    return os.cpu_count() or 8


def get_spark(
    app_name: str = "sql-query-engine-spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    Local-mode defaults; on a cluster, pass ``master`` / rely on
    spark-submit conf and these settings remain sensible (AQE, Arrow,
    broadcast threshold) or are overridden by the submitter.

    ``extra_conf`` entries are applied LAST, overriding the defaults —
    pre-launch settings (driver memory, UI) only take effect in a fresh
    process before the JVM starts (the spill rehearsal's use case).
    """
    cores = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cores}]")
        # --- planner / runtime adaptivity -------------------------------
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # r16: size post-shuffle partitions by DATA, not by core count.
        # parallelismFirst=true (Spark's default) kept every implicit
        # exchange at `cores` partitions, so a 600k-row local shuffle ran
        # 32 tasks of ~20 kB each — pure scheduling overhead (the r15
        # scaling block measured 8 of 55 queries FASTER at 8 cores than
        # 32). parallelismFirst=false is the setting Spark's own docs
        # recommend for efficient utilization; the advisory size is the
        # knob that scales: 16m keeps the local bench's shuffles at a
        # couple of right-sized partitions, a cluster submit should
        # raise it to 64-256m (SPARK_GRAFT_CONF or --conf, see below).
        # Stages whose cost is per-row interpreted compute (not bytes)
        # pin their parallelism with explicit repartition(par, key)
        # calls, which AQE never coalesces — byte-based advice cannot
        # see per-row cost (measured: dedup_ngram_jaccard's inverted
        # index +0.5 s when its window/self-join exchange coalesced).
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16m")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(max(cores, 8)))
        .config("spark.default.parallelism", str(max(cores, 8)))
        # dims like region/nation/supplier must broadcast, never shuffle.
        # r15 A/B'd 8 MB + preferSortMergeJoin=false (the "facts never
        # broadcast" shape) in-process against this config: the global
        # switch LOST locally (sim_lsh_ann_topk 0.8 -> 1.4 s,
        # stream_session_windows +0.15 s, TPC-H joins ~wash) because at
        # sf0.1 even fact-side broadcasts are cheap, while at real scale
        # TB-sized facts exceed ANY threshold and shuffle regardless —
        # so the 64 MB local default costs nothing at 100 TB. Joins where
        # a shuffle strategy measurably wins locally AND is the only
        # scale-viable shape carry explicit shuffle_hash hints instead
        # (ref_multikey_join's fact self-join, graph_pagerank's
        # degree/rank joins) — guide §3.1, deliberate per-join choice.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # --- Python boundary: always Arrow ------------------------------
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # let registered Python data sources (sources/pyds.py) receive
        # scan filters through DataSourceReader.pushFilters
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # InferFiltersFromGenerate inserts `size(arr)>0` under every
        # explode(); when the generator input is an aliased *expression*
        # (our shingle arrays), predicate pushdown substitutes the whole
        # expression into the filter and re-evaluates it per row on the
        # interpreted (non-codegen) path — measured 30× slowdown on the
        # dedup pipelines. Our generators are pre-filtered to non-empty
        # upstream, so the inferred filter only costs.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
        # --- driver-data compatibility ----------------------------------
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # local-mode niceties
        .config("spark.ui.enabled", "false")
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/spark-graft-warehouse"),
        )
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    # Environment passthrough (SPARK_GRAFT_CONF="k=v;k=v"): lets a
    # submitter or an A/B harness override any default above without
    # editing source — the same parameterization a cluster submit would
    # use. Applied after the defaults, before caller extra_conf. Items
    # split on ';', so a value cannot contain ';'; an item without '='
    # raises rather than being silently dropped.
    env_conf = os.environ.get("SPARK_GRAFT_CONF", "")
    for item in env_conf.split(";"):
        item = item.strip()
        if not item:
            continue
        k, sep, v = item.partition("=")
        if not sep:
            raise ValueError(
                f"SPARK_GRAFT_CONF item {item!r} is not key=value"
            )
        builder = builder.config(k.strip(), v.strip())
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
