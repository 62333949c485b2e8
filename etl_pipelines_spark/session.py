"""SparkSession factory with deterministic, scale-aware defaults.

The reference delegates physical design to Redshift (DISTKEY/SORTKEY,
encodings); here Catalyst + AQE own those decisions, and this module
pins the session-level knobs that make results deterministic and
plans sane at both local test scale and 1000-executor scale:

- UTC session timezone (oracle comparisons + Redshift-style naive ts).
- ANSI mode OFF: Redshift SQL in the reference relies on permissive
  casts / silent NULL on bad input (e.g. ``NULLIF(x,'nan')::int``);
  Spark 4 defaults ANSI on, which would turn those into errors.
- AQE on (skew joins, dynamic coalescing) — replaces the reference's
  hand-tuned DISTSTYLE/SORTKEY layer (SURVEY.md §4).
- Dynamic partition overwrite: the reference's daily-snapshot and
  incremental-upsert write modes (§2.2 W2/W4) overwrite exactly the
  touched partitions, never the whole table.
- Broadcast threshold raised: dimension tables (region/nation/part/
  supplier-shaped) should always broadcast in star joins.

A single *logical run date* is injected per run instead of wall-clock
``current_date`` (the reference has 2,118 ``current_date`` call sites;
determinism requires pinning it — SURVEY.md §4 item 5).
"""

from __future__ import annotations

import datetime as _dt
import os
import re

from pyspark.sql import SparkSession

# Spark's byte-string grammar (JavaUtils.byteStringAs), lower-cased.
_BYTE_SIZE = re.compile(r"[0-9]+(b|k|kb|m|mb|g|gb|t|tb|p|pb)?")


def env_positive_int(name: str, default: int) -> int:
    """Integer env knob ``name``; a value that is not an integer >= 1
    raises a ValueError naming the variable."""
    raw = os.environ.get(name)
    if raw is None:
        return default
    try:
        value = int(raw)
    except ValueError:
        value = 0
    if value < 1:
        raise ValueError(f"{name}={raw!r}: expected a positive integer")
    return value


def env_byte_size(name: str, default: str) -> str:
    """Byte-size env knob ``name`` (``64k``, ``1m``, ``65536``); a value
    Spark would not parse raises a ValueError naming the variable."""
    raw = os.environ.get(name, default)
    if not _BYTE_SIZE.fullmatch(raw.strip().lower()):
        raise ValueError(f"{name}={raw!r}: expected a byte size such as 64k or 1m")
    return raw.strip()


# Knob defaults chosen for local[N] testing; on a real cluster the
# submitter overrides cores/memory and shuffle partitions scale with
# cluster cores (rule of thumb: 2-3x total cores, or rely on AQE
# coalescing from a higher initial number).
_DEFAULT_CONF: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.ansi.enabled": "false",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # AQE coalescing targets post-shuffle BYTES, but compressed
    # columnar shuffle rows are 10-30x smaller than the per-row CPU
    # they carry (decimal sums, string group keys, window sorts), so
    # the default 1 MiB floor collapses CPU-dense aggregate/window
    # stages to ONE task whenever a whole shuffle compresses under a
    # megabyte — exactly the r12 bench profile of the affiliate-payout
    # mart (two >1 s single-task stages; OPTIMIZATION_r12.md). A 64 KiB
    # floor is scale-neutral by construction: with parallelismFirst
    # (default) the coalesce target is max(bytes/parallelism,
    # minPartitionSize), so at production shuffle sizes the floor
    # never binds — it only restores parallelism where shuffles are
    # sub-MiB, i.e. test scale. SPARK_GRAFT_AQE_FLOOR overrides it
    # (see _engine_conf).
    "spark.sql.adaptive.coalescePartitions.minPartitionSize": "64k",
    "spark.sql.sources.partitionOverwriteMode": "dynamic",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.parquet.compression.codec": "zstd",
    # Files-per-partition sizing: 128 MiB keeps a 100 TB scan at
    # ~800k tasks, which is the right granularity for AQE coalescing.
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    # The driver's events table stores TIMESTAMP(NANOS), which the
    # vectorized parquet reader rejects; read as long + convert
    # (queries.load does the exact micros conversion).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Parquet timestamps without UTC annotation must read as plain
    # TIMESTAMP (LTZ, UTC session), not TIMESTAMP_NTZ: NTZ forbids the
    # numeric epoch casts the engine uses (sessionize, date_part
    # 'epoch'), and the UTC session makes the two types value-equal
    # here anyway. Spark 4 defaults this to true (-> NTZ).
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    # FAIR job scheduling: the nightly pipeline materializes many
    # independent models concurrently (plans/pipeline.py DAG runner);
    # FIFO lets one long stage convoy every other model's short
    # stages. Static conf — applies at session creation, silently
    # skipped on a live session.
    "spark.scheduler.mode": "FAIR",
    "spark.ui.enabled": "false",
}


def _engine_conf() -> dict[str, str]:
    """_DEFAULT_CONF with the env knobs applied, read (and validated)
    when a session is built or configured rather than at import.
    Shuffle partitions follow ``SPARK_GRAFT_CPUS`` (default 32)."""
    floor = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
    return {
        **_DEFAULT_CONF,
        floor: env_byte_size("SPARK_GRAFT_AQE_FLOOR", _DEFAULT_CONF[floor]),
        "spark.sql.shuffle.partitions": str(
            env_positive_int("SPARK_GRAFT_CPUS", 32)
        ),
    }


def get_spark(
    app_name: str = "etl_pipelines_spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` so the same
    entry points run under the driver harness and on a real cluster
    (where ``master`` is supplied by spark-submit and this argument is
    left None with an existing session already active).
    """
    conf = _engine_conf()
    if master is None:
        master = f"local[{conf['spark.sql.shuffle.partitions']}]"
    builder = SparkSession.builder.appName(app_name).master(master)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def configure(spark: SparkSession) -> SparkSession:
    """Apply the engine's runtime-settable conf to an existing session.

    The driver harness may hand us a session it built itself; static
    conf (master, memory) is out of our hands, but determinism conf
    (timezone, ANSI, AQE) is runtime-settable and must be pinned.
    """
    for k, v in _engine_conf().items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # static conf on a live session — keep whatever it has
    return spark


# --- logical run date -------------------------------------------------------
# The reference's SQL calls current_date/GETDATE()/SYSDATE everywhere
# (SURVEY.md §2.9); a deterministic engine needs one pinned date per
# run. Models take run_date explicitly; this is the process default.

_RUN_DATE_ENV = "ETL_SPARK_RUN_DATE"


def run_date(default: str = "2024-02-01") -> _dt.date:
    """The logical 'today' for a pipeline run (never wall-clock)."""
    return _dt.date.fromisoformat(os.environ.get(_RUN_DATE_ENV, default))
