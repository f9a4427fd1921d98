"""Input-size-based partition widths (r14 verdict #6).

The round-14 decade audit (BENCH_sf10_partitions.json) proved the rule:
holding the shuffle-partition count constant across a 10× data decade
bends the heaviest operators super-linear — per-task working sets
outgrow execution memory and spill; raising the count at the same data
restored sub-linear scaling.  **Per-task bytes, not partition count, is
the invariant to hold across scale-ups** (SCALING.md).

Batch decisions size the input with :func:`leaf_bytes` (the analyzed
plan's leaf-relation bytes); streaming drains pass the replay
directory's :func:`dir_bytes`.  The engine applies the rule in three
places:

* **Batch** (aggregations, joins): sessions built by
  :func:`rbql_spark.session.build_session` set AQE's
  ``coalescePartitions.initialPartitionNum`` to
  :func:`wide_partition_num` of the base width and
  ``advisoryPartitionSizeInBytes`` to the per-task byte target, and
  every query builder calls :func:`apply_plan_width`, which plans a
  sub-advisory input at the session base width instead.
* **Streaming** (stateful drains — AQE does not re-plan streaming
  shuffles, and the state-store partition count is pinned by
  ``spark.sql.shuffle.partitions`` at the query's FIRST start): the
  drain helpers (:mod:`rbql_spark.streaming.events`) set it to
  :func:`advise_shuffle_partitions` of the source's input bytes with
  :func:`scoped_conf` for the duration of the ``start()``.
* **Scans**: :func:`scan_partition_estimate` predicts a narrow scan's
  partition count from its bytes (for ``ops.dedup.spread_partitions``),
  and :func:`one_partition` gathers a driver-bound result into one
  partition without a needless exchange.

This is the only module of the package that writes session conf:
:func:`scoped_conf` (set for a block, then restore) and
:func:`apply_plan_width`'s one persistent ``initialPartitionNum`` set.
Other per-call settings go through writer options or the plan.
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


# Parallelism floor for size-derived STREAMING widths (allow_below):
# below it the per-batch Arrow/state work serializes — the r16 A/B
# measured 2 partitions nearly doubling the user-totals drain while 8
# kept every stateful gate at or under its 32-partition time.
STREAM_MIN_PARTITIONS = 8


def advise_shuffle_partitions(spark, input_bytes: int | None,
                              expansion: float = 1.0,
                              allow_below: bool = False) -> int:
    """Partition count holding per-task bytes ≈ ``BYTES_PER_PARTITION``,
    capped at 2^20 partitions.

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
    want = math.ceil(input_bytes * max(expansion, 0.0) / BYTES_PER_PARTITION)
    cap = 1 << 20
    if allow_below:
        return min(cap, max(want, min(cur, STREAM_MIN_PARTITIONS)))
    return max(cur, min(cap, want))


_INITIAL_KEY = 'spark.sql.adaptive.coalescePartitions.initialPartitionNum'


def wide_partition_num(base: int) -> int:
    """AQE's initial shuffle width for a session whose base width
    (``spark.sql.shuffle.partitions``) is ``base``: 16× the base, at
    least 256.

    This is the engine's encoding of the measured decade rule (r14 sf10
    audit, SCALING.md: per-task bytes, not partition count, is the
    cross-scale invariant).  Every large batch shuffle starts this wide
    and AQE coalesces down to the 64 MB advisory, so a data decade lands
    proportionally more post-shuffle partitions with no per-operator
    pinning, while small inputs coalesce back to a handful.  Width chosen
    by A/B (NOTES_r15.md): 16×/512 costs ~0.7–1.1 s of map-side
    shuffle-file overhead on three second-scale sf0.1 window queries but
    is the best setting everywhere else, including the best sf10
    bpe_vocab time (90 s, beating a hand-pinned 128 session), while
    4×/128 slowed the broadcast-model scoring family ~2.5× (persisted
    ``repartition('doc_id')`` frames pinned at the uncoalesced width feed
    per-partition Arrow workers)."""
    return max(16 * base, 256)


def apply_plan_width(df):
    """Decide the AQE ``initialPartitionNum`` for ``df``'s upcoming
    execution AT BUILD TIME and set it on the session (r16 verdict #1:
    an optimization that only ran where the bench's stopwatch was is
    indistinguishable from bench tuning, so the bench does a plain
    noop write and every query builder applies this instead).

    Decision (A/B'd in NOTES_r15):
    BINARY — when 4 × input scan bytes (the shuffle expansion every
    builder assumes) fits within ``base partitions × per-task target``
    (even the base width over-partitions this shuffle), plan at the
    session base; otherwise at :func:`wide_partition_num` of the base
    (the measured decade rule for large shuffles).  Unknown sizes and
    plans carrying an explicit ``repartition(expr)`` get the wide width —
    the safe direction at scale (and the r15 A/B direction for
    repartition-pinned Arrow stages).  A session that never set
    ``initialPartitionNum`` (AQE starts at the base width) is left alone.

    The set is PERSISTENT, not scoped: execution happens later, in the
    caller's hands (a noop write, a collect, a sink).  Each query builder
    re-decides for its own plan, so sequential workloads always execute
    at their own width.  (Session conf is global — concurrent builders
    on one session race; pin per-thread sessions for that regime.)

    Returns ``df`` unchanged, for chaining.
    """
    spark = df.sparkSession
    try:
        base = int(spark.conf.get('spark.sql.shuffle.partitions'))
    except Exception:
        return df
    if spark.conf.get(_INITIAL_KEY, None) is None:
        return df
    wide = wide_partition_num(base)
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
        # keyed repartitions (RepartitionByExpression) pin Arrow-stage
        # layouts the r15 A/B showed prefer the wide width; round-robin
        # repartition(n) (spread_partitions) pins its OWN exchange width
        # explicitly, so the initial-width decision still applies to
        # the aggregations above it (r17: dedup_lines/spans freq build)
        keyed = _has_node(df._jdf.queryExecution().analyzed(),
                          'RepartitionByExpression')
        nbytes = None if keyed else leaf_bytes(df)
    except Exception:
        nbytes = None
    small = (nbytes is not None
             and math.ceil(nbytes * 4 / BYTES_PER_PARTITION) <= base)
    spark.conf.set(_INITIAL_KEY, str(base if small else wide))
    return df


def leaf_bytes(df) -> int | None:
    """Sum of Catalyst size estimates over the LEAF relations of
    ``df``'s analyzed plan (file scans: file bytes; cached frames:
    materialized size).  Unlike the root's ``stats().sizeInBytes`` —
    which estimates the plan's OUTPUT and is tiny for aggregations —
    this measures what the job will READ, the quantity shuffle width
    should scale with.  The analyzed plan is already built when the
    DataFrame is, so this costs no optimizer pass.  None when any
    leaf's estimate is the unknown sentinel."""
    try:
        leaves = df._jdf.queryExecution().analyzed().collectLeaves()
        total = 0
        for i in range(leaves.size()):
            size = int(leaves.apply(i).stats().sizeInBytes())
            if size >= (1 << 50):   # defaultSizeInBytes unknown sentinel
                return None
            total += max(size, 0)
        return total
    except Exception:
        return None


_NARROW_NODES = ('Project', 'Filter', 'SubqueryAlias', 'LogicalRelation',
                 'View', 'DataSourceV2Relation', 'DataSourceV2ScanRelation')


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
        nbytes = leaf_bytes(df)
        if nbytes is None:
            return None, None
        conf = df.sparkSession._jsparkSession.sessionState().conf()
        return max(1, math.ceil(nbytes / conf.filesMaxPartitionBytes())), nbytes
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
def scoped_conf(spark, settings: dict):
    """Set each ``key: value`` of ``settings`` on the session for the
    duration of a block, then put every key back in its prior state: its
    old value, or unset again when it was unset before (a streaming
    ``start()`` clones the conf, so restoring right after it is safe for
    the started query).  Session conf is shared by every thread, so two
    threads scoping the same key at once can restore the wrong value."""
    prev = {k: spark.conf.get(k, None) for k in settings}
    try:
        for k, v in settings.items():
            spark.conf.set(k, str(v))
        yield
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
