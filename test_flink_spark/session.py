"""SparkSession construction with scale-minded defaults.

The reference pins parallelism to 1 (HotMediaTrack.java:52,
HotItemAnalysis.java:66) for deterministic console output.  We do the
opposite: determinism comes from explicit sort keys + tie-breakers, and the
session is configured for a real cluster — AQE on (runtime shuffle-partition
coalescing + skew-join splitting), broadcast joins enabled, Arrow for any
Python exchange.  On a 1000-executor cluster only `master` and the shuffle
partition count change; nothing in the operator library assumes local mode.
"""

from __future__ import annotations

import os
import threading
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession

# Runtime confs applied per-session even when we are handed an existing
# SparkSession (e.g. by the verification driver).  Only runtime-settable
# confs belong here.
RUNTIME_CONFS = {
    # Deterministic timestamp arithmetic: epoch math must agree with the
    # DuckDB oracle, which is timezone-naive.
    "spark.sql.session.timeZone": "UTC",
    # AQE re-plans at runtime: coalesces small shuffle partitions and splits
    # skewed ones — both essential at 100 TB where static partition counts
    # are always wrong for someone.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Join strategy (guide §3.1/§9): let the planner pick shuffled-hash
    # over sort-merge when its size conditions hold, and let AQE rewrite
    # SMJ->SHJ at runtime when every post-shuffle partition's build side
    # fits 128 MB (size-based, so the decision stays correct at any
    # scale).  SHJ skips the per-partition sort — measured 3-13% on the
    # join-heavy fleet (q2/q3/q8/q21, fk audit, sparse cosine) at sf0.1,
    # and the win grows with partition width at 100 TB where the sort
    # spills.  Join strategy never changes values, only the plan.
    "spark.sql.join.preferSortMergeJoin": "false",
    "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold": "134217728",
    # The driver's events.parquet carries TIMESTAMP(NANOS), which Spark 4
    # refuses by default; read the raw int64 and normalize in load_table
    # (schemas.py) — lossless down to the microsecond Spark works in.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Round-4 testdata switched events.ts to TIMESTAMP(MICROS) without the
    # UTC annotation; Spark 4 would infer TIMESTAMP_NTZ, which epoch
    # functions (unix_millis etc.) reject.  Read it as session-tz TIMESTAMP
    # (UTC above) — identical epoch values, same as the DuckDB oracle.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
}


def builder_confs(shuffle_partitions: int | None = None) -> dict[str, str]:
    """Confs for building a fresh session (tests / bench / pipelines)."""
    if shuffle_partitions is None:
        # SPARK_GRAFT_SHUFFLE decouples partition count from thread count
        # for scale probes: local[32] at sf10 needs 256+ partitions so a
        # single shuffle partition stays inside per-thread heap — the same
        # knob a real cluster turns when data grows 10x (AQE coalesces the
        # excess at smaller SFs, so over-partitioning is cheap).
        shuffle_partitions = int(
            os.environ.get(
                "SPARK_GRAFT_SHUFFLE", os.environ.get("SPARK_GRAFT_CPUS", "32")
            )
        )
    confs = dict(RUNTIME_CONFS)
    confs.update(
        {
            "spark.sql.shuffle.partitions": str(shuffle_partitions),
            # Arrow batches for pandas UDFs / applyInPandas — the only
            # sanctioned Python exchange path (SURVEY.md §7 design stance).
            "spark.sql.execution.arrow.pyspark.enabled": "true",
            "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
            # Size input splits so a partition fits executor memory at scale.
            "spark.sql.files.maxPartitionBytes": "134217728",
            "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
            "spark.ui.enabled": "false",
        }
    )
    return confs


def get_spark(
    app_name: str = "test-flink-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's defaults."""
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    b = SparkSession.builder.appName(app_name).master(master)
    for k, v in builder_confs(shuffle_partitions).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    apply_runtime_confs(spark)
    return spark


# sessions already normalized: every query helper calls
# apply_runtime_confs defensively, so without this memo the fleet pays
# len(RUNTIME_CONFS) py4j conf.set round-trips per query (the session
# object rides in the value so a GC'd id can never alias a live session)
_CONFS_APPLIED: dict[int, SparkSession] = {}


def apply_runtime_confs(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs to an externally-provided session.

    The correctness driver hands us its own SparkSession; UTC + AQE must
    hold there too or epoch arithmetic diverges from the oracle.
    """
    if id(spark) in _CONFS_APPLIED:
        return spark
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # conf not runtime-settable on this build — defaults fine
    ship_package(spark.sparkContext)
    _CONFS_APPLIED[id(spark)] = spark
    return spark


_PACKAGE_DIR = os.path.dirname(os.path.abspath(__file__))


def ship_package(sc) -> None:
    """Make ``test_flink_spark`` importable in every Python worker of ``sc``.

    Workers resolve pickled functions by module name, and their
    ``sys.path`` holds the worker's working directory, not the driver's
    import path: a ``mapInPandas`` over a package function fails with
    ``ModuleNotFoundError`` unless the package is shipped.  ``addPyFile``
    of a zip is the cluster-wide mechanism, so the same call serves a
    remote executor and a local worker started from any directory.
    """
    import atexit
    import shutil
    import tempfile

    tmp = tempfile.mkdtemp(prefix="tfs-pyfiles-")
    atexit.register(shutil.rmtree, tmp, True)
    path = shutil.make_archive(
        os.path.join(tmp, "test_flink_spark"),
        "zip",
        root_dir=os.path.dirname(_PACKAGE_DIR),
        base_dir="test_flink_spark",
    )
    sc.addPyFile(path)


# ---------------------------------------------------------------------------
# Pins: who releases an eager localCheckpoint or a persisted relation.
#
# The rule: no pin outlives its call, except a memo entry.  ``with pins()
# as p:`` releases, on exit, every pin taken inside it; ``pin``/``persist``
# record into the innermost open scope of the calling thread, and with no
# scope open the caller owns the pin.  A call that returns a pinned result
# hands that one pin to the enclosing scope (``p.returning``).  A memo
# entry (``Memo``) belongs to no scope: queries share it, and the memo
# releases it when a new key replaces it or ``release_pinned_cache`` runs.
# ---------------------------------------------------------------------------

class _Scopes(threading.local):
    def __init__(self):
        self.stack: list[Pins] = []  # this thread's open scopes


_SCOPES = _Scopes()


def _rdd_key(df: DataFrame) -> tuple:
    """``(SparkContext, id)`` of an eager localCheckpoint's persisted RDD:
    ``Dataset.localCheckpoint`` returns a LogicalRDD over exactly it."""
    return df.sparkSession.sparkContext, df._jdf.queryExecution().analyzed().rdd().id()


def _unpin(df: DataFrame, key: tuple | None) -> None:
    """The one release primitive.  A checkpoint goes through
    ``SparkContext.unpersistRDD``, the call the ContextCleaner makes:
    ``RDD.unpersist`` on a local checkpoint logs "cannot be recomputed
    after unpersisting" on every call."""
    if key is None:
        df.unpersist()
    elif key[0]._jsc is not None:  # a stopped context holds no blocks
        key[0]._jsc.sc().unpersistRDD(key[1], False)


class Pins:
    """The pins of one ``pins()`` scope, released in reverse order on exit."""

    def __init__(self, parent: Pins | None):
        self._parent, self._held = parent, []

    def _pop(self, df: DataFrame) -> tuple | None:
        for i, entry in enumerate(self._held):
            if entry[0] is df:
                return self._held.pop(i)
        return None

    def release(self, df: DataFrame) -> None:
        """Release ``df`` now if this scope holds it."""
        entry = self._pop(df)
        if entry:
            _unpin(*entry)

    def returning(self, df: DataFrame) -> DataFrame:
        """Hand ``df``'s pin to the enclosing scope (with none, to the
        caller): the result a call returns outlives the call's scope."""
        entry = self._pop(df)
        if entry and self._parent:
            self._parent._held.append(entry)
        return df


def _innermost() -> Pins | None:
    return _SCOPES.stack[-1] if _SCOPES.stack else None


@contextmanager
def pins():
    """A scope that releases every pin taken inside it on exit."""
    scope = Pins(_innermost())
    _SCOPES.stack.append(scope)
    try:
        yield scope
    finally:
        _SCOPES.stack.pop()
        while scope._held:
            _unpin(*scope._held.pop())


def pin(df: DataFrame) -> DataFrame:
    """``df`` materialized by an eager ``localCheckpoint``, owned by the
    innermost open scope.  An iterative loop frees the superseded
    generation with ``p.release(prev)`` once the new one is pinned.

    localCheckpoint keeps blocks on executors (MEMORY_AND_DISK) with no
    lineage fallback: an executor loss fails the query instead of
    recomputing it.  Accepted because a failed analytics query can be
    rerun, while an iterations-deep plan often cannot even be planned."""
    out = df.localCheckpoint(eager=True)
    scope = _innermost()
    if scope:
        scope._held.append((out, _rdd_key(out)))
    return out


def persist(df: DataFrame) -> DataFrame:
    """``df.persist()`` owned by the innermost open scope: for relations
    that must keep their hash partitioning or their lineage."""
    out, scope = df.persist(), _innermost()
    if scope:
        scope._held.append((out, None))
    return out


def scoped(batch_fn, *args, **kwargs):
    """A ``foreachBatch`` body: ``batch_fn(batch_df, *args, batch_id=...,
    **kwargs)`` inside its own ``pins()`` scope, so every pin of a
    micro-batch ends with it."""

    def run(batch_df: DataFrame, batch_id: int) -> None:
        with pins():
            batch_fn(batch_df, *args, batch_id=batch_id, **kwargs)

    return run


class Memo:
    """One shared stage's session memo, holding at most one entry.

    An entry is keyed by the session's ``applicationId``, the stage's
    ``params`` and the listing of every file its ``inputs`` read: path,
    length and modification time from the Hadoop ``FileSystem``, a
    driver-side call with no Spark job.  A new shard landed at an old path
    is a new key.  A new key releases the old entry before computing its
    own: a pinned DataFrame is unpinned, any other value goes to ``drop``
    (or is just dropped).  ``compute`` runs in its own ``pins()`` scope;
    a DataFrame it returns must be a pin it took, which then leaves every
    scope, so the next query can read it."""

    def __init__(self, drop=None):
        self._drop = drop
        # the entry: its key, its value and, for a pin, (df, rdd key)
        self._key = self._value = self._pin = None

    def get(self, spark: SparkSession, inputs, params, compute):
        key = (spark.sparkContext.applicationId, params, _listing(spark, inputs))
        if key == self._key:
            return self._value
        self.release()
        with pins() as p:
            value = compute()
            pinned = p._pop(value) if isinstance(value, DataFrame) else None
        self._key, self._value, self._pin = key, value, pinned
        return value

    def release(self) -> None:
        """Release the entry now; the next ``get`` recomputes it."""
        key, value, pinned = self._key, self._value, self._pin
        self._key = self._value = self._pin = None
        if pinned:
            _unpin(*pinned)
        elif key is not None and self._drop:
            self._drop(value)


def _listing(spark: SparkSession, inputs) -> tuple:
    """``(path, length, modification time)`` of every file ``inputs`` read
    (``-1``s for a file gone since the scan was planned)."""
    from py4j.protocol import Py4JJavaError

    jvm, conf = spark._jvm, spark.sparkContext._jsc.hadoopConfiguration()
    out = []
    for df in inputs:
        for f in sorted(df.inputFiles()):
            path = jvm.org.apache.hadoop.fs.Path(f)
            try:
                st = path.getFileSystem(conf).getFileStatus(path)
                out.append((f, st.getLen(), st.getModificationTime()))
            except Py4JJavaError:
                out.append((f, -1, -1))
    return tuple(out)


def release_pinned_cache(memo: Memo) -> None:
    """Release ``memo``'s entry now (its pin, if it holds one)."""
    memo.release()
