"""Generic in-session interleaved A/B: working tree vs HEAD for one
module's public functions.

Loads the HEAD revision of the module (via `git show`) as a sibling
module object inside the live package, then alternates old/new per rep
by patching the named functions (which gates import at call time).

Usage:
  python tools/ab.py <relpath> <fn,fn,...> <reps> gate [gate ...]
e.g.
  python tools/ab.py rbql_spark/ops/textstats.py bm25_score_queries \
      4 text_bm25_batch dedup_exact

The session has one core, one shuffle partition and 1 GB of driver memory
(2 to 16 GB) per CPU: $SPARK_GRAFT_CPUS, or the CPUs this process may run
on.
"""
import importlib
import importlib.util
import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def load_head_module(relpath):
    pkgpath = relpath[:-3].replace('/', '.')
    package = pkgpath.rsplit('.', 1)[0]
    src = subprocess.check_output(['git', '-C', REPO, 'show',
                                   'HEAD:' + relpath]).decode()
    spec = importlib.util.spec_from_loader(pkgpath + '_head', loader=None)
    mod = importlib.util.module_from_spec(spec)
    mod.__package__ = package
    mod.__file__ = '<head:{}>'.format(relpath)
    sys.modules[pkgpath + '_head'] = mod
    exec(compile(src, mod.__file__, 'exec'), mod.__dict__)
    return mod


def main():
    relpath, fns, reps = sys.argv[1], sys.argv[2].split(','), int(sys.argv[3])
    gates = sys.argv[4:]
    from rbql_spark.session import build_session
    # the UI setting is read when the context starts, so it goes in
    # through spark-submit; the session itself cannot change it
    os.environ.setdefault('PYSPARK_SUBMIT_ARGS',
                          '--conf spark.ui.enabled=false pyspark-shell')
    cpus = int(os.environ.get('SPARK_GRAFT_CPUS')
               or len(os.sched_getaffinity(0)))
    spark = build_session(app_name='ab', master='local[{}]'.format(cpus),
                          shuffle_partitions=cpus,
                          driver_memory='{}g'.format(min(16, max(2, cpus))))
    spark.sparkContext.setLogLevel('ERROR')

    import __spark_entry__ as em
    new_mod = importlib.import_module(relpath[:-3].replace('/', '.'))
    old_mod = load_head_module(relpath)
    qs = em.queries()
    sf = os.environ.get('SPARK_GRAFT_SF_DIR', '/root/testdata/sf0.1')

    from pyspark.sql import functions as F
    spark.range(1000).select(F.sum('id')).collect()
    em._t(spark, sf, 'lineitem').limit(10).count()

    def set_variant(which):
        src = old_mod if which == 'old' else new_mod
        for fn in fns:
            setattr(new_mod, fn, getattr(src, fn))

    keep = {fn: getattr(new_mod, fn) for fn in fns}
    out = {'old': {g: [] for g in gates}, 'new': {g: [] for g in gates}}
    for rep in range(reps):
        # alternate variant order per rep so intra-rep host drift cannot
        # systematically penalize one variant
        order = ('old', 'new') if rep % 2 == 0 else ('new', 'old')
        for which in order:
            set_variant(which)
            for name in gates:
                spark.sparkContext.setJobDescription(
                    'ab-{}-{}'.format(which, name))
                t0 = time.time()
                qs[name](spark, sf).write.format('noop') \
                    .mode('overwrite').save()
                out[which][name].append(round(time.time() - t0, 3))
                spark.catalog.clearCache()
        print(json.dumps({'rep': rep, 'old': out['old'], 'new': out['new']}),
              file=sys.stderr, flush=True)
    for fn, f in keep.items():
        setattr(new_mod, fn, f)
    summary = {g: {'old_min': min(out['old'][g]),
                   'new_min': min(out['new'][g]),
                   'old': out['old'][g], 'new': out['new'][g]}
               for g in gates}
    print(json.dumps(summary))
    spark.stop()


if __name__ == '__main__':
    main()
