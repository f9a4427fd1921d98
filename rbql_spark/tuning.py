"""Input-size-based shuffle-partition advisor (r14 verdict #6).

The round-14 decade audit (BENCH_sf10_partitions.json) proved the rule:
holding the shuffle-partition count constant across a 10× data decade
bends the heaviest operators super-linear — per-task working sets
outgrow execution memory and spill; raising the count at the same data
restored sub-linear scaling.  **Per-task bytes, not partition count, is
the invariant to hold across scale-ups** (SCALING.md).

The engine encodes that rule in two mechanisms:

* **Batch** (aggregations, joins): sessions built by
  :func:`rbql_spark.session.build_session` set AQE's
  ``coalescePartitions.initialPartitionNum`` HIGH and
  ``advisoryPartitionSizeInBytes`` to the per-task byte target — every
  shuffle starts wide and AQE coalesces down to the advisory size, so
  the effective partition count scales with the actual shuffled bytes
  with no per-operator code.  (This is Spark's native form of the
  rule; the old fixed ``spark.sql.shuffle.partitions`` becomes the
  non-AQE fallback only.)
* **Streaming** (stateful drains — AQE does not re-plan streaming
  shuffles, and the state-store partition count is pinned by
  ``spark.sql.shuffle.partitions`` at the query's FIRST start): the
  drain helpers (:mod:`rbql_spark.streaming.events`) scope the session
  conf to :func:`advise_shuffle_partitions` of the source's input
  bytes for the duration of the ``start()``.
"""

from __future__ import annotations

import contextlib
import math
import os

# Per-task post-shuffle byte target.  64 MB matches AQE's default
# advisory size: large enough that task-launch overhead is noise, small
# enough that a task's working set (input + hash tables) stays far from
# typical execution-memory limits.
BYTES_PER_PARTITION = 64 << 20


def dir_bytes(path: str) -> int | None:
    """Total file bytes under ``path`` (a replay/source directory)."""
    try:
        total = 0
        for root, _dirs, files in os.walk(path):
            for f in files:
                try:
                    total += os.path.getsize(os.path.join(root, f))
                except OSError:
                    pass
        return total
    except OSError:
        return None


def estimated_input_bytes(df) -> int | None:
    """Catalyst's size estimate for a BATCH DataFrame's optimized plan
    (parquet: sum of file sizes after partition pruning — the same
    footer-level statistics the planner uses).  None when unavailable
    or when the estimate is the unknown-sentinel (defaultSizeInBytes,
    astronomically large)."""
    try:
        size = int(df._jdf.queryExecution().optimizedPlan()
                   .stats().sizeInBytes())
    except Exception:
        return None
    if size <= 0 or size >= (1 << 50):   # 1 PiB+ → unknown sentinel
        return None
    return size


# Parallelism floor for size-derived STREAMING widths (allow_below):
# below it the per-batch Arrow/state work serializes — the r16 A/B
# measured 2 partitions nearly doubling the user-totals drain while 8
# kept every stateful gate at or under its 32-partition time.  Override
# for deployments whose steady-state stream needs a wider state store
# (state-store partition count is pinned at the query's first start).
STREAM_MIN_PARTITIONS = int(os.environ.get('RBQL_STREAM_MIN_PARTITIONS', '8'))


def advise_shuffle_partitions(spark, input_bytes: int | None,
                              expansion: float = 1.0,
                              bytes_per_partition: int = BYTES_PER_PARTITION,
                              cap: int = 1 << 20,
                              allow_below: bool = False) -> int:
    """Partition count holding per-task bytes ≈ ``bytes_per_partition``.

    ``expansion``: how much bigger the shuffled data is than the input
    (e.g. a shingle explode multiplies bytes; 1.0 for project-and-group
    shapes).  By default never LOWERS the session's configured count —
    small inputs keep today's behavior; only growth past the per-task
    target raises it (the measured decade rule).

    ``allow_below=True`` (round-16, the streaming-drain mode): a
    sub-advisory source may also plan NARROWER than the session count,
    down to ``min(session count, STREAM_MIN_PARTITIONS)``.  Stateful
    streaming shuffles pay a per-partition-per-batch state-store
    open/commit that AQE can never coalesce away (state width is pinned
    at first start), so a tiny replay at the session's batch width buys
    pure overhead — measured 1.5–2× on second-scale stateful drains at
    sf0.1.  The decade direction is unchanged: sources past the
    per-task target still RAISE the count."""
    try:
        cur = int(spark.conf.get('spark.sql.shuffle.partitions'))
    except Exception:
        cur = 200
    if not input_bytes or input_bytes <= 0:
        return cur
    want = math.ceil(input_bytes * max(expansion, 0.0) / bytes_per_partition)
    if allow_below:
        return min(cap, max(want, min(cur, STREAM_MIN_PARTITIONS)))
    return max(cur, min(cap, want))


def input_scan_bytes(df) -> int | None:
    """Sum of Catalyst size estimates over the optimized plan's LEAF
    relations (parquet scans: file bytes after partition pruning;
    cached frames: materialized size).  Unlike the root's
    ``stats().sizeInBytes`` — which estimates the plan's OUTPUT and is
    tiny for aggregations — this measures what the job will READ, the
    quantity shuffle width should scale with.  None when any leaf's
    estimate is the unknown sentinel."""
    try:
        leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
        total = 0
        for i in range(leaves.size()):
            size = int(leaves.apply(i).stats().sizeInBytes())
            if size >= (1 << 50):   # defaultSizeInBytes unknown sentinel
                return None
            total += max(size, 0)
        return total
    except Exception:
        return None


# Session-conf stash of the DESIGNED wide AQE initial width (set by
# build_session; apply_plan_width falls back to the live conf value the
# first time it runs on a foreign session).  Without the stash, applying
# the base width for one small query would destroy the knowledge of the
# wide setting for every later large query — the conf itself is the only
# cross-query storage a SparkSession offers.
WIDE_INITIAL_KEY = 'spark.rbql.wideInitialPartitionNum'
_INITIAL_KEY = 'spark.sql.adaptive.coalescePartitions.initialPartitionNum'


def apply_plan_width(df, expansion: float = 4.0,
                     bytes_per_partition: int | None = None):
    """Decide the AQE ``initialPartitionNum`` for ``df``'s upcoming
    execution AT BUILD TIME and set it on the session — the engine-layer
    home of the r15/r16 ``scoped_initial_width`` policy (r16 verdict #1:
    an optimization that only ran where the bench's stopwatch was is
    indistinguishable from bench tuning, so the bench now does a plain
    noop write and every query builder applies this instead).

    Decision (identical to the r16 scoped version, A/B'd in NOTES_r15):
    BINARY — when ``expansion × input scan bytes`` fits within ``base
    partitions × per-task target`` (even the base width over-partitions
    this shuffle), plan at the session base; otherwise keep the session's
    configured wide initial (the measured decade rule for large
    shuffles).  Unknown sizes and plans carrying an explicit
    ``repartition(expr)`` keep the wide width — the safe direction at
    scale (and the r15 A/B direction for repartition-pinned Arrow
    stages).

    The set is PERSISTENT, not scoped: execution happens later, in the
    caller's hands (a noop write, a collect, a sink).  Each query builder
    re-decides for its own plan, so sequential workloads always execute
    at their own width; the designed wide value survives in
    ``WIDE_INITIAL_KEY``.  (Session conf is global — concurrent builders
    on one session race exactly as the streaming drain scoping always
    has; pin per-thread sessions for that regime.)

    Returns ``df`` unchanged, for chaining.
    """
    spark = df.sparkSession
    try:
        base = int(spark.conf.get('spark.sql.shuffle.partitions'))
    except Exception:
        return df
    try:
        wide = int(spark.conf.get(WIDE_INITIAL_KEY))
    except Exception:
        try:
            wide = int(spark.conf.get(_INITIAL_KEY))
        except Exception:
            return df
        # first sighting on a session build_session didn't stamp: the
        # live value IS the designed wide width — stash it
        spark.conf.set(WIDE_INITIAL_KEY, str(wide))
    if wide <= base:
        return df
    # Everything below reads the ANALYZED plan, not the optimized one:
    # analysis already ran eagerly when the DataFrame was built (~1 ms,
    # cached), while forcing optimizedPlan here runs a full optimizer
    # pass that the later write-path execution throws away and rebuilds
    # — measured 34–149 ms PER GATE BUILD, a 20–30% tax on sub-second
    # queries (r17; the textstats family's huge regex expression trees
    # also made the old full-plan string render cost up to 85 ms, so
    # the repartition check is a node walk, never a render).  Leaf
    # stats are identical at both levels for file relations; where
    # optimization would shrink them (catalog partition pruning) the
    # analyzed estimate is larger, which only errs toward keeping the
    # wide width — the safe direction at scale.
    try:
        analyzed = df._jdf.queryExecution().analyzed()
    except Exception:
        spark.conf.set(_INITIAL_KEY, str(wide))
        return df
    nbytes = _plan_leaf_bytes(analyzed)
    try:
        # keyed repartitions (RepartitionByExpression) pin Arrow-stage
        # layouts the r15 A/B showed prefer the wide width; round-robin
        # repartition(n) (spread_partitions) pins its OWN exchange width
        # explicitly, so the initial-width decision still applies to
        # the aggregations above it (r17: dedup_lines/spans freq build)
        if _has_node(analyzed, 'RepartitionByExpression'):
            nbytes = None
    except Exception:
        nbytes = None
    if nbytes is None:
        spark.conf.set(_INITIAL_KEY, str(wide))
        return df
    bpp = bytes_per_partition or BYTES_PER_PARTITION
    want = math.ceil(nbytes * max(expansion, 1.0) / bpp)
    spark.conf.set(_INITIAL_KEY, str(base if want <= base else wide))
    return df


def _plan_leaf_bytes(jplan) -> int | None:
    """Sum of leaf-relation size estimates of a (java) logical plan —
    the analyzed-plan twin of :func:`input_scan_bytes`.  None when any
    leaf reports the unknown sentinel."""
    try:
        leaves = jplan.collectLeaves()
        total = 0
        for i in range(leaves.size()):
            size = int(leaves.apply(i).stats().sizeInBytes())
            if size >= (1 << 50):
                return None
            total += max(size, 0)
        return total
    except Exception:
        return None


_NARROW_NODES = ('Project', 'Filter', 'SubqueryAlias', 'LogicalRelation',
                 'View', 'DataSourceV2Relation', 'DataSourceV2ScanRelation')


def _parse_size(s: str) -> int | None:
    """Spark size-conf string ('134217728', '128m', '64MB') → bytes."""
    try:
        t = s.strip().lower()
        mult = 1
        for suf, m in (('kb', 1 << 10), ('mb', 1 << 20), ('gb', 1 << 30),
                       ('k', 1 << 10), ('m', 1 << 20), ('g', 1 << 30),
                       ('b', 1)):
            if t.endswith(suf):
                t, mult = t[:-len(suf)], m
                break
        return int(float(t) * mult)
    except Exception:
        return None


def scan_partition_estimate(df) -> tuple[int | None, int | None]:
    """(estimated scan partition count, leaf bytes) for a NARROW chain
    over file relations — (None, None) when the frame's partitioning
    cannot be predicted from bytes (post-shuffle, cached, local rows)
    or any leaf size is unknown.

    The estimate is ``ceil(leaf bytes / maxPartitionBytes)``, the file
    packer's shape without per-file open costs — it may UNDER-estimate
    a many-small-files directory, which at the call sites only risks a
    redundant round-robin pass over a provably small input.  Exists so
    ``spread_partitions`` does not have to call
    ``df.rdd.getNumPartitions()``, which builds (and throws away) a
    full physical plan per operator build — measured 150-200 ms."""
    try:
        analyzed = df._jdf.queryExecution().analyzed()
        stack = [analyzed]
        while stack:
            node = stack.pop()
            name = node.getClass().getSimpleName()
            if not any(name.startswith(p) for p in _NARROW_NODES):
                return None, None
            ch = node.children()
            for i in range(ch.size()):
                stack.append(ch.apply(i))
        nbytes = _plan_leaf_bytes(analyzed)
        if nbytes is None:
            return None, None
        mpb = _parse_size(df.sparkSession.conf.get(
            'spark.sql.files.maxPartitionBytes', '134217728'))
        if not mpb:
            return None, None
        return max(1, math.ceil(nbytes / mpb)), nbytes
    except Exception:
        return None, None


def _has_node(jplan, class_prefix: str) -> bool:
    """True when any node of the (java) logical plan tree has a class
    whose simple name starts with ``class_prefix`` — a py4j node walk
    (a handful of calls per operator), never a full-plan string render
    (which serializes every expression tree through the gateway)."""
    stack = [jplan]
    while stack:
        node = stack.pop()
        if node.getClass().getSimpleName().startswith(class_prefix):
            return True
        ch = node.children()
        for i in range(ch.size()):
            stack.append(ch.apply(i))
    return False


# logical operators that compute each output row from one input row of
# their single child, so they run in the same stage as that child
_ROW_LOCAL_NODES = frozenset(('Project', 'Filter', 'SubqueryAlias', 'MapInPandas',
                              'Generate'))


def one_partition(df):
    """``df`` in a single partition, for a sort whose rows all go to one
    driver anyway.

    ``coalesce(1)`` adds no exchange but runs the whole last stage in one
    task, so it is used only where that stage has one partition's work to
    do: above a limit or a global (ungrouped) aggregation, or when every
    row comes from a one-partition source through row-local operators and
    grouped aggregations (which only shrink that input).  Anywhere else
    (a multi-partition scan, a join, a window, a repartition)
    ``repartition(1)`` keeps the stage's own tasks and gathers the result
    rows through one exchange."""
    node = df._jdf.queryExecution().analyzed()
    while True:
        name = node.getClass().getSimpleName()
        children = node.children()
        if name == 'GlobalLimit' or (
                name == 'Aggregate' and node.groupingExpressions().isEmpty()):
            return df.coalesce(1)
        if children.size() == 0:
            spark = df.sparkSession
            leaf = spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows(
                spark._jsparkSession, node)
            single = leaf.rdd().getNumPartitions() <= 1
            return df.coalesce(1) if single else df.repartition(1)
        if children.size() > 1 or name not in _ROW_LOCAL_NODES | {'Aggregate'}:
            return df.repartition(1)
        node = children.apply(0)


@contextlib.contextmanager
def scoped_initial_width(spark, df, expansion: float = 4.0):
    """Batch counterpart of the streaming drain scoping (r15 verdict
    #7): the session's high AQE ``initialPartitionNum`` is the decade
    rule's mechanism for LARGE shuffles, but on sub-advisory inputs it
    buys nothing (AQE coalesces straight back down) while costing real
    map-side overhead — every map task opens initial-width shuffle-file
    blocks, ~0.5-1 s on second-scale window queries (NOTES_r15 A/B).

    The decision is deliberately BINARY: when ``expansion × input
    bytes`` fits within ``base count × advisory`` — i.e. even the base
    width already over-partitions this shuffle — plan at the session
    base; otherwise keep the configured wide initial untouched.  No
    intermediate widths: the r15 A/B measured the mid-range (4×base)
    as pathological for repartition-pinned frames while both extremes
    were fine, and the sf10 decade wins (bpe_vocab 90 s) were measured
    at the full configured width.  Unknown sizes keep the configured
    width — the safe direction at scale.

    Plans carrying an explicit ``repartition(expr)`` also keep the
    configured width: those frames pin at the uncoalesced count and
    feed per-partition Arrow workers, where the r15 A/B measured wide >
    narrow even on small inputs (NOTES_r15: the broadcast-model scoring
    family slowed at every narrower width tried)."""
    key = 'spark.sql.adaptive.coalescePartitions.initialPartitionNum'
    nbytes = input_scan_bytes(df)
    try:
        if 'Repartition' in str(df._jdf.queryExecution().optimizedPlan()):
            nbytes = None
    except Exception:
        nbytes = None
    try:
        cur = int(spark.conf.get(key))
        base = int(spark.conf.get('spark.sql.shuffle.partitions'))
    except Exception:
        nbytes = None
    if nbytes is None:
        yield
        return
    want = math.ceil(nbytes * max(expansion, 1.0) / BYTES_PER_PARTITION)
    if want > base or base >= cur:
        yield
        return
    spark.conf.set(key, str(base))
    try:
        yield
    finally:
        spark.conf.set(key, str(cur))


@contextlib.contextmanager
def scoped_shuffle_partitions(spark, n: int):
    """Set ``spark.sql.shuffle.partitions`` for the duration of a block
    (streaming ``start()`` captures the value; batch actions inside the
    block plan with it), restoring the previous value after."""
    key = 'spark.sql.shuffle.partitions'
    try:
        prev = spark.conf.get(key)
    except Exception:
        prev = None
    spark.conf.set(key, str(int(n)))
    try:
        yield
    finally:
        if prev is not None:
            spark.conf.set(key, prev)
