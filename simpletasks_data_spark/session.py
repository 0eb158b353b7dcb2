"""SparkSession factory with engine defaults.

The engine targets a 1000-executor cluster reading ~100 TB; locally we run
``local[N]``. Config notes:

- AQE on (runtime coalesce / skew-join) — the reference has no optimizer at
  all (``/root/reference/simpletasks_data/importtask.py:219`` is a plain row
  loop), so every Catalyst/AQE rewrite is a free upgrade.
- ANSI mode OFF: the engine's parse semantics are "failure -> NULL (+ warn
  counter)", mirroring the reference's try/except parsers
  (``/root/reference/simpletasks_data/formatting.py:240-244``). Spark 4
  defaults ANSI on, which would raise instead.
- Session timezone pinned to UTC so timestamp results are stable across
  environments and comparable to external oracles.
- Codegen cache of ``CODEGEN_CACHE_ENTRIES`` generated classes (Spark's
  default is 100). One ``dedup_corpus`` benchmark call (``dedup_clusters``
  + ``pipeline_pretraining_corpus``) compiles 155 distinct classes, 128
  once connected components runs on the driver. With 100 entries every
  warm call evicts and recompiles about 115 of them (70 after the local
  CC gate); with 1000 entries a warm call compiles none (counts from
  ``CodegenMetrics``, four calls in a fresh ``local[4]`` session).
- DataFrame call-site capture OFF
  (``spark.python.sql.dataFrameDebugging.enabled=false``). With it on,
  PySpark wraps every DataFrame and Column call in ``_with_origin``
  (``pyspark/errors/utils.py``), which looks up the active session, reads
  a conf and sets and clears a JVM-side origin: three or more extra Py4J
  round trips per call, plus a Python stack walk. Turning it off cut the
  calling thread's round trips in a tiny two-source import from 11.3k
  to 3.3k. Errors still raise the same named
  ``AnalysisException``; only the Python file:line in the DataFrame
  query context is lost. The conf is static: it can only be set when the
  session is built (``spark.conf.set`` raises
  ``CANNOT_MODIFY_STATIC_CONFIG``, and ``getOrCreate`` on an existing
  session skips it), and PySpark caches its value process-wide on first
  use. So ``pin_session_confs`` cannot assert it, and a FOREIGN session
  built without it keeps call-site capture and its round trips.
- PySpark's hot JVM entry points resolved once per gateway. For each
  Column function PySpark looks up ``org.apache.spark.sql.functions`` by
  name and then the method (``Class.getMethods`` copies every method
  of the class), and for each JVM Seq it looks up ``PythonUtils``; a
  short name first misses on every imported package, and each miss
  scans the classpath. ``_resolve_entry_points`` puts a handle for
  ``functions``, ``PythonUtils`` and ``PythonSQLUtils`` (full and short
  names) in the gateway ``JVMView``'s instance dict, where Python's
  attribute lookup finds it first, and each handle keeps the methods it
  has looked up. A warm ``F.col`` then costs 1 Py4J round trip instead
  of 3, and a warm ``merge_incremental`` benchmark call 1,336
  calling-thread round trips instead of 2,446, of which 30 instead of
  1,152 are reflection lookups (``scripts/driver_floor.py``, seed 1).
  ``get_spark`` and ``pin_session_confs`` both install them.

Also home to the two per-session helpers every operator shares:
``observed`` (a counter read off a job that already runs) and
``session_store`` (a frame built once per session and input directory),
and to ``count_py4j_round_trips``, the driver-floor probe.
"""

from __future__ import annotations

import contextlib
import functools
import os
import tempfile
import threading
from typing import Any, Callable, Dict, Tuple

from py4j.java_gateway import JavaClass, JavaMember
from py4j.protocol import REFLECTION_COMMAND_NAME, Py4JJavaError
from pyspark.sql import Column, DataFrame, Observation, SparkSession


CODEGEN_CACHE_ENTRIES = 1000

# The JVM classes PySpark looks up for every Column function and JVM Seq;
# each gets a pre-resolved handle under its full and its short name.
_ENTRY_POINTS = (
    "org.apache.spark.sql.functions",
    "org.apache.spark.api.python.PythonUtils",
    "org.apache.spark.sql.api.python.PythonSQLUtils",
)


class _EntryPoint(JavaClass):
    """A ``JavaClass`` that keeps each static method it looks up, so only
    the first lookup of a method costs a Py4J round trip. Fields and
    nested classes are looked up each time, as ``JavaClass`` does."""

    def __getattr__(self, name: str) -> Any:
        member = super().__getattr__(name)
        if isinstance(member, JavaMember):
            self.__dict__[name] = member
        return member


def _resolve_entry_points(spark: SparkSession) -> None:
    """Put a handle for each of ``_ENTRY_POINTS`` in the gateway's
    ``JVMView`` instance dict, where Python's attribute lookup finds it
    before ``JVMView.__getattr__`` asks the JVM. The handles live on the
    view, so they last as long as its gateway and a new gateway gets its
    own on the next call."""
    jvm = spark.sparkContext._jvm
    if _ENTRY_POINTS[0] in vars(jvm):
        return
    for fqn in _ENTRY_POINTS:
        handle = _EntryPoint(fqn, jvm._gateway_client)
        vars(jvm)[fqn] = vars(jvm)[fqn.rsplit(".", 1)[1]] = handle


def get_spark(
    app_name: str = "simpletasks-data-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 4)
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32

    # Python workers must be able to import this package (pandas_udfs
    # reference it by module). Locally that means PYTHONPATH; on a real
    # cluster you'd ship a wheel / --py-files instead.
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_root + (os.pathsep + existing if existing else "")
        )

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # catalog writes (bucketed tables) must never land in a read-only CWD
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE")
            or os.path.join(tempfile.gettempdir(), "sds_warehouse"),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _resolve_entry_points(spark)
    return spark


def pin_session_confs(spark: SparkSession) -> None:
    """Re-assert the two runtime-settable semantics the engine depends on
    on a FOREIGN session (the external driver calls queries with its own
    SparkSession): non-ANSI parsing (failure -> NULL, the reference's
    try/except model) and a UTC session timezone so event-time windows
    and timestamp round-trips hash-match a UTC-naive oracle. Call-site
    capture (see the module docstring) is a static conf, so a foreign
    session keeps whatever it was built with. The JVM entry-point handles
    (``_resolve_entry_points``) are installed here too."""
    try:
        spark.conf.set("spark.sql.ansi.enabled", "false")
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    except Exception:
        pass
    _resolve_entry_points(spark)


class _Py4JCounts(dict):
    """Py4J commands per thread, and per thread the reflection lookups
    among them."""

    def __init__(self) -> None:
        super().__init__()
        self.reflection: Dict[int, int] = {}


@contextlib.contextmanager
def count_py4j_round_trips(spark: SparkSession):
    """Count the Py4J commands the driver sends while the block runs.
    Yields a dict from Python thread id (``threading.get_ident()``) to its
    count, filled as the block runs; besides the calling thread, Py4J's
    finalizer thread releases Java objects the driver dropped. Its
    ``reflection`` attribute maps each thread to how many of those
    commands were reflection lookups (a class or member resolved by
    name, not a call). A count is deterministic, unlike a time, and each
    command is driver and JVM work that no executor shares."""
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    counts = _Py4JCounts()
    lock = threading.Lock()

    def counting(command, *args, **kwargs):
        t = threading.get_ident()
        with lock:
            counts[t] = counts.get(t, 0) + 1
            if command.startswith(REFLECTION_COMMAND_NAME):
                counts.reflection[t] = counts.reflection.get(t, 0) + 1
        return send(command, *args, **kwargs)

    client.send_command = counting
    try:
        yield counts
    finally:
        del client.send_command


def observed(df: DataFrame, *metrics: Column) -> Tuple[DataFrame, Callable[[], Dict[str, Any]]]:
    """Attach ``metrics`` to ``df`` as an ``Observation``: returns the
    observed frame and a reader for the metric dict, valid once an action
    has run the observed frame (typically its eager checkpoint) — the
    counters ride a job that runs anyway.

    The optimizer can prune the observation away: when a plan folds to an
    empty relation (e.g. an UPDATE-only source against a statically empty
    target), the CollectMetrics node goes with it and ``Observation.get``
    raises at once (an assertion in ``PythonSQLUtils.toPyRow``). The
    reader then runs the same metrics as an aggregation over the
    un-observed ``df`` — one extra tiny job, only in that degenerate case,
    and never a second action on the failed observation."""
    obs = Observation()

    def read() -> Dict[str, Any]:
        try:
            return obs.get
        except Py4JJavaError:
            return df.agg(*metrics).first().asDict()  # c: 1row

    return df.observe(obs, *metrics), read


_SESSION_STORE: Dict[tuple, Any] = {}


def session_store(build: Callable[[SparkSession, str], Any]) -> Callable[[SparkSession, str], Any]:
    """Memoize ``build(spark, sf_dir)`` once per (SparkContext, sf_dir).
    Stores hold deterministic intermediates (checkpointed frames), never
    query-specific state, so a hit can never change a result. Keyed on
    the context object itself, not its ``id``: a stopped context stays
    referenced, so a new session can never collide with a stale entry."""

    @functools.wraps(build)
    def get(spark: SparkSession, sf_dir: str) -> Any:
        key = (build, spark.sparkContext, sf_dir)
        if key not in _SESSION_STORE:
            _SESSION_STORE[key] = build(spark, sf_dir)
        return _SESSION_STORE[key]

    return get
