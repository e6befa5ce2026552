"""Table catalog and the per-session parquet relation cache.

Tables (TESTDATA.md / FIXTURES.md): region nation customer supplier part
orders lineitem events documents embeddings. A scale-factor directory
holds each as ``{name}.parquet``: one file in the generated fixtures
(TESTDATA.md) and in perfbench's byte-identical copies under
``perfbench/data/``, or a directory of part files in the scale sets that
``scripts/make_scale_dataset.py`` builds. Callers pass the directory.

All fixture reads go through ``table()`` so filters/projections written
against the returned DataFrame are pushed into the parquet scan by
Catalyst (check: .explain shows PushedFilters / ReadSchema).

Resolving a parquet path is not free: Spark 4.1 lists the files and runs
a schema-inference Spark job (``mergeSchemasInParallel``, even for one
file) before it returns a DataFrame: tens of milliseconds per read in a
warm session, against a few for a cached one. ``read_parquet`` pays it
once per ``SparkSession`` and path, and ``table()`` and
``sources.sink.read_versioned`` read through it.
"""

from __future__ import annotations

import os
import stat
import weakref

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession

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

#: dimension tables small enough to broadcast at any scale factor
BROADCAST_TABLES = frozenset({"region", "nation", "supplier"})

#: per session: path -> (fingerprint, resolved LogicalRelation). Weakly
#: keyed, so a session's resolved relations go when the session does.
_RELATIONS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def _fingerprint(path: str) -> tuple:
    """(name, size, mtime_ns, inode) of the file at ``path``, or of every
    leaf file under the directory at ``path``. Raises OSError when
    ``path`` is not a local file or directory."""
    st = os.stat(path)
    if not stat.S_ISDIR(st.st_mode):
        return ((os.path.basename(path), st.st_size, st.st_mtime_ns, st.st_ino),)
    leaves = []
    for root, _dirs, files in os.walk(path):
        for f in files:
            full = os.path.join(root, f)
            s = os.stat(full)
            leaves.append(
                (os.path.relpath(full, path), s.st_size, s.st_mtime_ns, s.st_ino)
            )
    return tuple(sorted(leaves))


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, resolved once per session.

    Cache contract:

    - per session: an entry is the schema, file index and
      ``LogicalRelation`` that ``spark`` resolved; another session
      (``spark.newSession()`` included) resolves the path again;
    - per fingerprint: an entry is reused only while the path's
      file-system fingerprint (``_fingerprint``) is unchanged, so a file
      rewritten in place, or a directory replaced by rename (a new
      ``write_versioned`` version, a re-published IVF stage), is
      resolved again on the next call;
    - fresh ids: every call returns ``LogicalRelation.newInstance()``,
      with attribute ids of its own exactly as a re-read has, so two
      calls self-join without ambiguity.

    A path that is not a local file or directory (a URI, a glob, a
    missing path) is read uncached, and Spark reports what is wrong
    with it.
    """
    try:
        # taken BEFORE resolving: a change racing the resolution leaves an
        # entry whose fingerprint is older than its listing, which the next
        # call re-resolves; the other order could keep a stale listing
        fp = _fingerprint(path)
    except OSError:
        return spark.read.parquet(path)
    cache = _RELATIONS.setdefault(spark, {})
    hit = cache.get(path)
    if hit is None or hit[0] != fp:
        relation = spark.read.parquet(path)._jdf.queryExecution().analyzed()
        # a deleted path (a vacuumed version, a replaced stage) is never
        # read again; drop its entry rather than keep its listing alive.
        # Threads sharing the session share ``cache``: iterate a copy and
        # pop, and let two threads that miss together both resolve (the
        # last entry wins; either is valid for its fingerprint).
        for gone in [p for p in list(cache) if not os.path.exists(p)]:
            cache.pop(gone, None)
        cache[path] = hit = (fp, relation)
    jdf = spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows(
        spark._jsparkSession, hit[1].newInstance()
    )
    return DataFrame(jdf, spark)


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one fixture table. Lazy: no job runs until an action, and no
    schema-inference job either after the session's first read of the
    path (see ``read_parquet`` for the cache contract).

    ``events.ts``: the current fixtures store it as TIMESTAMP(MICROS,
    not adjusted to UTC), which Spark reads as TIMESTAMP_NTZ. A fixture
    generated with TIMESTAMP(NANOS), as FIXTURES.md documents, Spark 4
    rejects outright (PARQUET_TYPE_ILLEGAL); ``session.get_spark``
    therefore reads it as a long (the legacy
    ``spark.sql.legacy.parquet.nanosAsLong``, a session default) and this
    truncates ns -> us, matching DuckDB's own ns -> us truncation so
    oracle comparisons agree. In a session without that key the read
    raises a RuntimeError that names it, not Spark's bare
    PARQUET_TYPE_ILLEGAL.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    path = f"{sf_dir.rstrip('/')}/{name}.parquet"
    if name == "events":
        from pyspark.sql import functions as F
        from pyspark.sql.types import LongType

        try:
            df = read_parquet(spark, path)
        except AnalysisException as exc:
            if "PARQUET_TYPE_ILLEGAL" not in str(exc):
                raise
            raise RuntimeError(
                f"{path}: events.ts is TIMESTAMP(NANOS), which Spark reads "
                "only with spark.sql.legacy.parquet.nanosAsLong=true in the "
                "reading session; session.get_spark sets it, so build the "
                "session with session.get_spark or set the key when "
                "building it"
            ) from exc
        if isinstance(df.schema["ts"].dataType, LongType):
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        return df
    return read_parquet(spark, path)
