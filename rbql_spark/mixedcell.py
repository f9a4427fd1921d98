"""Tagged-cell representation for MIXED-TYPE columns (r14 verdict #1).

The reference engines hold per-CELL dynamic values: a 2D-array / pandas /
sqlite column may mix numbers and strings, and every downstream semantic
(string methods throw on numbers, Python refuses to order str vs int,
V8's stable_compare treats them as incomparable, GROUP BY keys 5 and '5'
are distinct) depends on each cell's RUNTIME type.  A Spark column has
ONE type, and stringifying mixed columns — the pre-round-15 model — was
the repo's last silently-different-answer class.

The fix: a mixed column travels as ``struct<s: string, n: double,
k: tinyint>`` — exactly one of ``s``/``n`` populated, ``k`` the kind
tag — materialized ONLY when ingest (or expression-output inference)
actually observes mixed kinds.  Homogeneous columns keep their plain
Spark types and today's plans (plan-tested).  The hosted evaluators
unpack cells back to real Python values, so reference semantics come
for free on the fallback path; the native translator tags the column
``'mixed'`` and declines every operation on it (exact-match tag
dispatch), which routes all touching expressions to the evaluator.

Scale note: mixed columns can only originate from driver-resident
sources (in-memory 2D arrays, pandas objects, sqlite dynamic typing) —
parquet and CSV columns are typed/strings by construction — so the
driver-side ORDER BY host sort this representation enables
(engine._host_sort_mixed) touches only data the driver already held.

Kind codes (``k``):  1 = int, 2 = float, 3 = bool, 4 = str,
5 = bigint (|int| > 2^53: exact decimal text in ``s``, the rounded
double in ``n`` so every JVM numeric path still works — unpack returns
the exact int); a null cell is a NULL struct.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

K_INT, K_FLOAT, K_BOOL, K_STR, K_BIGINT = 1, 2, 3, 4, 5

_EXACT_INT_MAX = 2 ** 53  # largest magnitude a double carries exactly

MIXED_STRUCT = T.StructType([
    T.StructField('s', T.StringType(), True),
    T.StructField('n', T.DoubleType(), True),
    T.StructField('k', T.ByteType(), True),
])

_FIELD_NAMES = ('s', 'n', 'k')


def norm_n(cell: Column) -> Column:
    """The ``n`` field with the Arrow NaN→null round-trip undone: a
    float-kind cell whose ``n`` is null WAS nan (pandas→Arrow transfer
    inside a hosted pass writes NaN as null; genuinely null cells are
    null STRUCTS, so the shape is unambiguous)."""
    n = cell.getField('n')
    return F.when((cell.getField('k') == F.lit(K_FLOAT)) & n.isNull(),
                  F.lit(float('nan'))).otherwise(n)


def is_mixed_type(dt: T.DataType) -> bool:
    return (isinstance(dt, T.StructType)
            and tuple(f.name for f in dt.fields) == _FIELD_NAMES
            and isinstance(dt.fields[0].dataType, T.StringType)
            and isinstance(dt.fields[1].dataType, T.DoubleType)
            and isinstance(dt.fields[2].dataType, T.ByteType))


def pack_value(v):
    """Python scalar → (s, n, k) tuple (None for a null cell).  Raises
    TypeError for non-scalar values — mixed columns carry scalars only
    (lists/dicts keep the legacy stringful path)."""
    if v is None:
        return None
    if isinstance(v, bool) or type(v).__name__ == 'bool_':
        return (None, 1.0 if v else 0.0, K_BOOL)
    if isinstance(v, str):
        return (v, None, K_STR)
    import numbers
    if isinstance(v, numbers.Integral):
        iv = int(v)
        if iv > _EXACT_INT_MAX or iv < -_EXACT_INT_MAX:
            # the numeric slot is a double: |int| > 2^53 would silently
            # lose precision — carry the exact decimal text alongside
            # the rounded double (JVM numeric paths read n; unpack
            # returns the exact int)
            try:
                d = float(iv)
            except OverflowError:
                d = float('inf') if iv > 0 else float('-inf')
            return (str(iv), d, K_BIGINT)
        return (None, float(iv), K_INT)
    if isinstance(v, numbers.Real):
        return (None, float(v), K_FLOAT)
    raise TypeError('cannot pack {!r} into a mixed cell'.format(type(v)))


def unpack_value(cell):
    """struct cell (Row / dict / tuple) → real Python value."""
    if cell is None:
        return None
    if isinstance(cell, dict):
        s, n, k = cell.get('s'), cell.get('n'), cell.get('k')
    else:  # Row or plain tuple, field order (s, n, k)
        s, n, k = cell[0], cell[1], cell[2]
    if k is None:
        return None
    if k == K_STR:
        return s
    if k == K_INT:
        return int(n)
    if k == K_BIGINT:
        return int(s)
    if k == K_BOOL:
        return bool(n)
    if n is None:
        # a float-kind cell with null n WAS nan: pandas→Arrow transfer
        # inside a hosted pass converts NaN to null (null CELLS are null
        # structs, so this is unambiguous)
        return float('nan')
    return float(n)


def pack_col(col: Column, tag: str) -> Column:
    """Spark column of a known homogeneous tag → mixed-struct column
    (UPDATE writes into a mixed target; join-key harmonization)."""
    null_struct = F.lit(None).cast(MIXED_STRUCT)
    if tag == 'str':
        packed = F.struct(col.alias('s'),
                          F.lit(None).cast('double').alias('n'),
                          F.lit(K_STR).cast('byte').alias('k'))
    elif tag == 'int':
        # a long column may exceed the double-exact range — those cells
        # carry their decimal text as bigint kind
        lcol = col.cast('long')
        big = (lcol > F.lit(_EXACT_INT_MAX)) | (lcol < F.lit(-_EXACT_INT_MAX))
        packed = F.when(
            big, F.struct(lcol.cast('string').alias('s'),
                          lcol.cast('double').alias('n'),
                          F.lit(K_BIGINT).cast('byte').alias('k'))
        ).otherwise(F.struct(F.lit(None).cast('string').alias('s'),
                             col.cast('double').alias('n'),
                             F.lit(K_INT).cast('byte').alias('k')))
    elif tag == 'float':
        packed = F.struct(F.lit(None).cast('string').alias('s'),
                          col.cast('double').alias('n'),
                          F.lit(K_FLOAT).cast('byte').alias('k'))
    elif tag == 'bool':
        packed = F.struct(F.lit(None).cast('string').alias('s'),
                          col.cast('double').alias('n'),
                          F.lit(K_BOOL).cast('byte').alias('k'))
    else:
        raise TypeError('cannot pack tag {!r} into a mixed cell'.format(tag))
    return F.when(col.isNull(), null_struct).otherwise(packed)


_CANON_TYPE = T.StructType([
    T.StructField('ks', T.StringType(), True),
    T.StructField('kn', T.DoubleType(), True),
])


def join_canon_col(col: Column, tag: str, bool_distinct: bool = False) -> Column:
    """Host-language value-equality canonical form for a JOIN or GROUP
    key involving a mixed column: the reference keys its hash maps by
    VALUE — under Python hashing 5 == 5.0 == True collide but '5' stays
    distinct from 5; JS Sets/Maps (SameValueZero) additionally keep
    booleans distinct from numbers (``bool_distinct=True``).  Canonical
    shape: strings → (s, null), numerics → (null, double), null cells →
    null struct (None matches None).  Applied to BOTH sides of a pair
    only when either side is mixed — homogeneous joins keep their plain
    key columns and today's plans."""
    null_canon = F.lit(None).cast(_CANON_TYPE)
    if tag == 'mixed':
        k = col.getField('k')
        # bigint cells: when the value is exactly a double (e.g. 2^60)
        # it equals the same-valued float under host == — canonicalize
        # through kn; otherwise no float can equal it and only the same
        # decimal text can — ('i:'+text, 0.0) (kn non-null keeps it
        # distinct from real strings, whose kn is null).  Exactness =
        # the value round-trips long → double → long (the decimal cast
        # is NOT usable here: Spark casts double→decimal through the
        # 17-digit repr, which rounds 2^60)
        blc = col.getField('s').try_cast('long')
        big_exact = blc.isNotNull() & \
            blc.cast('double').try_cast('long').eqNullSafe(blc)
        big_canon = (F.when(
            big_exact,
            F.struct(F.lit(None).cast('string').alias('ks'),
                     blc.cast('double').alias('kn')))
            .otherwise(F.struct(
                F.concat(F.lit('i:'), col.getField('s')).alias('ks'),
                F.lit(0.0).alias('kn'))))
        canon = (F.when(k == K_STR,
                        F.struct(col.getField('s').alias('ks'),
                                 F.lit(None).cast('double').alias('kn')))
                  .when(k == K_BIGINT, big_canon)
                  .otherwise(F.struct(F.lit(None).cast('string').alias('ks'),
                                      norm_n(col).alias('kn'))))
        if bool_distinct:
            # 'b' in ks with kn populated cannot collide with strings
            # (their kn is null) or plain numbers (their ks is null)
            canon = (F.when(k == K_STR,
                            F.struct(col.getField('s').alias('ks'),
                                     F.lit(None).cast('double').alias('kn')))
                      .when(k == K_BIGINT, big_canon)
                      .when(k == K_BOOL,
                            F.struct(F.lit('b').alias('ks'),
                                     col.getField('n').alias('kn')))
                      .otherwise(F.struct(F.lit(None).cast('string').alias('ks'),
                                          norm_n(col).alias('kn'))))
        return F.when(col.isNull(), null_canon).otherwise(canon)
    if tag == 'str':
        canon = F.struct(col.alias('ks'), F.lit(None).cast('double').alias('kn'))
    elif tag == 'int':
        # plain long values beyond 2^53 follow the same exact/inexact
        # rule as bigint mixed cells, so they meet them correctly
        lcol = col.cast('long')
        big = (lcol > F.lit(_EXACT_INT_MAX)) | (lcol < F.lit(-_EXACT_INT_MAX))
        exact = lcol.cast('double').try_cast('long').eqNullSafe(lcol)
        canon = (F.when(
            big & ~exact,
            F.struct(F.concat(F.lit('i:'), lcol.cast('string')).alias('ks'),
                     F.lit(0.0).alias('kn')))
            .otherwise(F.struct(F.lit(None).cast('string').alias('ks'),
                                col.cast('double').alias('kn'))))
    elif tag in ('float', 'bool'):
        canon = F.struct(F.lit(None).cast('string').alias('ks'),
                         col.cast('double').alias('kn'))
    else:
        # ts/date/other: stringified identity — cross-type pairs with
        # these kinds cannot equal a mixed cell's scalar kinds anyway
        canon = F.struct(col.cast('string').alias('ks'),
                         F.lit(None).cast('double').alias('kn'))
    return F.when(col.isNull(), null_canon).otherwise(canon)


def nan_unique_canon(canon: Column, cell: Column, uniq: Column) -> Column:
    """Python dict/set key semantics for nan cells: two independently
    created float('nan') objects never compare equal, so each nan cell
    is its OWN key — GROUP BY yields one group per nan row, DISTINCT
    keeps every nan row, a nan join key matches nothing.  (JS Maps use
    SameValueZero, which collapses NaN — the js dialect keeps the plain
    canon.)  ``uniq`` is any per-row/per-side unique column (NR with a
    side prefix).  Same-OBJECT nan cells (the user passing one float
    around) would collapse in the reference; object identity does not
    survive serialization, documented in README."""
    k = cell.getField('k')
    isnan_cell = cell.isNotNull() & (k != F.lit(K_STR)) & \
        F.coalesce(F.isnan(norm_n(cell)), F.lit(False))
    uniq_canon = F.struct(
        F.concat(F.lit('nan#'), uniq.cast('string')).alias('ks'),
        F.lit(0.0).alias('kn'))
    return F.when(isnan_cell, uniq_canon).otherwise(canon)
