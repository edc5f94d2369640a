"""Parquet sources for the fixture star schema.

Tables (TESTDATA.md): region nation customer supplier part orders
lineitem events documents embeddings — one parquet file per table
under ``{sf_dir}/``.

Scale notes: ``spark.read.parquet`` is the Catalyst-native scan —
predicate pushdown, column pruning and partition pruning all apply.
At 100 TB the same call reads a partitioned directory tree
(``.../orders/o_orderdate=.../part-*.parquet``); nothing here changes.

Schema cache (metadata only, the Impala catalog idea at its smallest):
``load_table`` infers a fixture file's schema once per Spark
application — inference is a Spark job — and every later call on the
unchanged file reads with ``spark.read.schema(cached).parquet(path)``,
which launches none. Only the ``StructType`` is kept: each call still
builds a fresh relation (fresh attribute IDs, so self-joins are
unaffected), and every execution lists and reads the file, so data is
never served from the cache. The key is the file's
``(st_ino, st_mtime_ns, st_size)`` plus the session confs that decide
an inferred type (``_TYPE_CONFS``: ``nanosAsLong`` for a
TIMESTAMP(NANOS) column, ``binaryAsString``, ``int96AsTimestamp`` and
the like); there is one entry per ``(applicationId, path)``. When the
file's key changes, its parquet footer is read first (a local read, no
Spark job): if the footer's schema and Spark's row metadata, from which
Spark infers, match the cached entry's, the rewrite kept the schema
(appended rows, say) and the cached ``StructType`` is reused; otherwise
the schema is inferred again and the entry replaced. Only regular files
are cached: a directory (the 100 TB layout) infers on every call,
because its mtime does not see nested files.

Scratch policy (derived data written from fixtures, in one place):
every materialization lives under ``SCRATCH_ROOT``, the checkout's
``_scratch`` directory, in ``{prefix}_{sf}_{content-hex}``. The name is
the freshness key: the sf-dir basename plus each source file's
``(st_mtime_ns, st_size)`` (``scratch_tag``), so an in-place fixture
update makes a new name and the stale copy is never read. A directory
is complete iff it holds ``_SUCCESS``. ``materialize`` builds a missing
one once: it writes into a unique directory under
``SCRATCH_ROOT/.inflight`` and renames it onto the final name, so a
reader never sees a half-written copy and two sessions building the
same name at once both end with one complete directory. The private
directory carries its builder's pid, and each build first deletes the
``.inflight`` entries of pids that are no longer running (a killed
build). Resolving a name deletes the stale siblings of its
``(prefix, sf)`` group (earlier fixture versions); other scale
factors' copies are untouched.

Per-call policy (output a query writes on every call, not shared):
``call_dir(prefix)`` returns a fresh path ``{prefix}-{pid}-{uuid}``
beside the ``.inflight`` builds, so no two processes or calls ever
write the same directory and the same sweep reclaims a killed
process's dirs. A process keeps one dir per prefix, the latest, which
the DataFrame that call returned still reads: asking for the next one
deletes the previous one, and an exit handler deletes the rest.
"""

from __future__ import annotations

import atexit
import os
import shutil
import stat
import threading
import uuid
from collections.abc import Callable, Sequence

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

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

# Session confs that change the type Spark infers for a parquet column.
_TYPE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.ignoreVariantAnnotation",
    "spark.sql.parquet.reader.respectUnknownTypeAnnotation.enabled",
)
# Spark's own schema, which it reads in preference to the parquet types.
_SPARK_ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"

# (applicationId, path) -> (file key, footer, confs, schema); see the
# module docstring.
_SCHEMAS: dict[tuple[str, str], tuple[tuple, tuple, tuple, StructType]] = {}


def _file_key(path: str) -> tuple | None:
    """``(st_ino, st_mtime_ns, st_size)`` of a regular file, else None
    (directories, missing and non-local paths are never cached)."""
    try:
        st = os.stat(path)
    except OSError:
        return None
    if not stat.S_ISREG(st.st_mode):
        return None
    return (st.st_ino, st.st_mtime_ns, st.st_size)


def _footer(path: str) -> tuple | None:
    """The part of a parquet footer that Spark infers a schema from: the
    schema text, less ``str(ParquetSchema)``'s first line (the object's
    address), and Spark's row metadata. None if the footer is unreadable;
    inference then reports the error."""
    try:
        meta = pq.read_metadata(path)
    except (OSError, ValueError):  # ArrowInvalid is a ValueError
        return None
    return str(meta.schema).split("\n", 1)[1], (meta.metadata or {}).get(_SPARK_ROW_METADATA)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one fixture table. Plain parquet scan: pushdown-friendly.

    The file's schema is inferred once per Spark application and reused
    while its key — ``(st_ino, st_mtime_ns, st_size)`` and the
    ``_TYPE_CONFS`` — is unchanged, so a warm call launches no Spark
    job; a rewrite whose footer schema is unchanged reuses it too.
    Only the schema is cached: the relation is rebuilt and the file
    listed and read on every execution, and directories are never
    cached.

    ``events.ts`` is normalized to a plain microsecond ``timestamp``,
    as DuckDB reads it, so oracle comparisons agree on values and schema:

    - ``timestamp_ntz`` (the fixtures' TIMESTAMP(MICROS)): cast to
      ``timestamp``; the package's sessions and the driver's use a UTC
      session timezone, so the cast keeps every value;
    - ``bigint`` (TIMESTAMP(NANOS) under a caller's
      ``spark.sql.legacy.parquet.nanosAsLong``; Spark refuses such a
      file without it): ``timestamp_micros(ns div 1000)``.
    """
    path = f"{sf_dir}/{name}.parquet"
    file_key = _file_key(path)
    schema = footer = None
    if file_key is not None:
        slot = (spark.sparkContext.applicationId, path)
        confs = tuple(spark.conf.get(k) for k in _TYPE_CONFS)
        cached = _SCHEMAS.get(slot)
        if cached is not None and (cached[0], cached[2]) == (file_key, confs):
            schema = cached[3]
        else:
            footer = _footer(path)
            if footer is not None and cached is not None and cached[1:3] == (footer, confs):
                schema = cached[3]  # rewritten with the same schema
    df = spark.read.schema(schema).parquet(path) if schema is not None else spark.read.parquet(path)
    # A file that changed since its footer was read is not cached.
    if footer is not None and _file_key(path) == file_key:
        _SCHEMAS[slot] = (file_key, footer, confs, df.schema if schema is None else schema)
    if name == "events":
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def fan_out(df: DataFrame) -> DataFrame:
    """Round-robin repartition a scan to full core count IF it arrived
    in fewer splits — for CPU-heavy map stages (shingling, hashing,
    vector math) whose input is byte-light but compute-dense.

    At 100 TB inputs arrive in thousands of splits and this is a no-op
    (the guard keeps the shuffle out of the plan). It pays off exactly
    when split count < cores: small fixtures, or a cluster reading a
    few unsplittable files — the standard repartition-after-skinny-scan
    pattern. The shuffle it may add moves only the scanned bytes.

    The split-count guard is PLAN-SIDE: it mirrors Spark's file
    bin-packing formula over ``df.inputFiles()`` sizes instead of
    probing ``df.rdd`` (which forces an analysis pass and pins the
    pre-AQE partitioning). Non-scan or non-local inputs (no listable
    files) skip the repartition — exactly the no-op we want at scale.
    """
    spark = df.sparkSession
    want = spark.sparkContext.defaultParallelism
    try:
        files = df.inputFiles()
    except Exception:
        return df
    if not files:
        return df
    from urllib.parse import urlparse

    total = 0
    for uri in files:
        p = urlparse(uri)
        if p.scheme not in ("", "file"):
            return df  # remote store: arrives in real splits already
        try:
            total += os.path.getsize(p.path or uri)
        except OSError:
            return df
    conf = spark._jsparkSession.sessionState().conf()
    max_split, open_cost = conf.filesMaxPartitionBytes(), conf.filesOpenCostInBytes()
    # Spark packs splits toward targetSize = min(maxPartitionBytes,
    # max(openCost, totalPadded / defaultParallelism)).
    padded = total + len(files) * open_cost
    target = min(max_split, max(open_cost, padded // max(want, 1)))
    est_splits = max(1, -(-padded // max(target, 1)))
    if est_splits < want:
        return df.repartition(want)
    return df


SCRATCH_ROOT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))), "_scratch"
)
_DONE = "_SUCCESS"


def scratch_tag(sf_dir: str, *names: str) -> str:
    """Freshness key of data derived from fixture tables: sf-dir
    basename + each source's mtime/size (see the module docstring)."""
    parts = [os.path.basename(sf_dir.rstrip("/")).replace(".", "_")]
    for n in names:
        try:
            st = os.stat(f"{sf_dir}/{n}.parquet")
            parts.append(f"{st.st_mtime_ns:x}{st.st_size:x}")
        except OSError:
            parts.append("na")
    return "_".join(parts)


def scratch_path(prefix: str, sf_dir: str, *names: str) -> str:
    """Scratch dir ``{SCRATCH_ROOT}/{prefix}_{sf}_{content-hex}``; deletes
    the stale siblings of the same ``(prefix, sf)`` group."""
    group = f"{prefix}_{scratch_tag(sf_dir)}"
    want = f"{prefix}_{scratch_tag(sf_dir, *names)}"
    try:
        for entry in os.listdir(SCRATCH_ROOT):
            if entry.startswith(f"{group}_") and entry != want:
                shutil.rmtree(os.path.join(SCRATCH_ROOT, entry), ignore_errors=True)
    except OSError:
        pass
    return os.path.join(SCRATCH_ROOT, want)


def _sweep_abandoned(inflight: str) -> None:
    """Delete the ``.inflight`` entries of processes that no longer run:
    a build or call dir is named ``{name}-{pid}-{uuid}``, and a process
    killed mid-write never reaches its cleanup. A live pid keeps its
    dirs, so a concurrent build or call is never touched; a recycled
    pid only delays the sweep."""
    for entry in os.listdir(inflight):
        parts = entry.rsplit("-", 2)
        if len(parts) != 3 or not parts[1].isdigit():
            continue
        try:
            os.kill(int(parts[1]), 0)
        except ProcessLookupError:
            shutil.rmtree(os.path.join(inflight, entry), ignore_errors=True)
        except OSError:  # exists, but another user's
            pass


def _private_dir(name: str) -> str:
    """A fresh path ``{name}-{pid}-{uuid}`` under ``SCRATCH_ROOT/.inflight``,
    after sweeping the entries of dead processes."""
    inflight = os.path.join(SCRATCH_ROOT, ".inflight")
    os.makedirs(inflight, exist_ok=True)
    _sweep_abandoned(inflight)
    return os.path.join(inflight, f"{name}-{os.getpid()}-{uuid.uuid4().hex}")


def materialize(
    prefix: str, sf_dir: str, names: Sequence[str], write: Callable[[str], None]
) -> str:
    """Return the complete scratch dir for ``(prefix, sf_dir, names)``,
    calling ``write`` to build it only when it is missing.

    ``write`` gets a fresh private directory path, which is published by
    one rename; the marker is added if the writer did not leave one. A
    directory without the marker is a broken build and is replaced. If
    a concurrent builder publishes first, its copy is kept and this
    one discarded. A writer that raises publishes nothing."""
    path = scratch_path(prefix, sf_dir, *names)
    done = os.path.join(path, _DONE)
    if os.path.exists(done):
        return path
    tmp = _private_dir(os.path.basename(path))
    try:
        write(tmp)
        open(os.path.join(tmp, _DONE), "a").close()
        if not os.path.exists(done):  # an unmarked dir is a broken build
            shutil.rmtree(path, ignore_errors=True)
        try:
            os.rename(tmp, path)
        except OSError:
            if not os.path.exists(done):  # not lost to a concurrent publisher
                raise
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return path


# prefix -> this process's latest call dir (see call_dir).
_CALL_DIRS: dict[str, str] = {}
_CALL_LOCK = threading.Lock()


def call_dir(prefix: str) -> str:
    """A fresh path for one call's output, private to this process;
    this process's previous dir for ``prefix`` is deleted, and the last
    one at exit (module docstring)."""
    path = _private_dir(prefix)
    with _CALL_LOCK:
        old, _CALL_DIRS[prefix] = _CALL_DIRS.get(prefix), path
    if old is not None:
        shutil.rmtree(old, ignore_errors=True)
    return path


@atexit.register
def _drop_call_dirs() -> None:
    for d in _CALL_DIRS.values():
        shutil.rmtree(d, ignore_errors=True)


def register_views(
    spark: SparkSession, sf_dir: str, tables: tuple[str, ...] | None = None
) -> None:
    """Register fixture tables as temp views for spark.sql use.

    ``tables`` narrows registration to just the tables a query needs,
    so one unreadable fixture can't fail an unrelated SQL query.
    """
    for name in tables if tables is not None else TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
