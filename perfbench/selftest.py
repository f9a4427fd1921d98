#!/usr/bin/env python3
"""Self-test of the benchmark at its smallest size (one timed pass).

For every workload in BENCHMARK.json: one untraced run must report every
end-to-end metric with its unit, and two traced runs of one seed must
report every per-layer metric with its unit and repeat the exact counters
(layers.EXACT).  Other counters that differ between the two traced runs
are listed but do not fail the test.

    python3 perfbench/selftest.py [--seed N]
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench.layers import EXACT, METRICS  # noqa: E402


def _run(workload: str, seed: int, trace: int) -> dict:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, 'run.py'), '--workload', workload,
         '--seed', str(seed), '--seconds', '1', '--trace', str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=300)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise RuntimeError('{} trace={} exited {}:\n{}'.format(
            workload, trace, p.returncode, p.stderr[-3000:]))
    return json.loads(lines[-1])


def _check_units(result: dict, expected: dict) -> list[str]:
    got = {k: v['unit'] for k, v in result['metrics'].items()}
    return ['{}: expected unit {}, got {}'.format(k, u, got.get(k))
            for k, u in expected.items() if got.get(k) != u] + \
        ['unexpected metric {}'.format(k) for k in got if k not in expected]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument('--seed', type=int, default=7)
    seed = ap.parse_args().seed
    with open(os.path.join(ROOT, 'BENCHMARK.json')) as f:
        spec = json.load(f)
    e2e = {m['name']: m['unit'] for m in spec['end_to_end']}
    layers = {m['name']: m['unit'] for m in spec['per_layer']}
    problems = []
    if layers != METRICS:
        problems.append('BENCHMARK.json per_layer differs from layers.METRICS')
    for w in spec['workloads']:
        name = w['name']
        plain = _run(name, seed, 0)
        problems += ['{}: {}'.format(name, p) for p in _check_units(plain, e2e)]
        traced = [_run(name, seed, 1) for _ in range(2)]
        for r in [plain] + traced:
            if not r['correct'] or r['failed']:
                problems.append('{}: {} of {} ops failed'.format(
                    name, r['failed'], r['attempted']))
        problems += ['{}: {}'.format(name, p)
                     for p in _check_units(traced[0], layers)]
        a, b = (r['metrics'] for r in traced)
        for k, unit in layers.items():
            va, vb = a[k]['value'], b[k]['value']
            if k in EXACT and va != vb:
                problems.append('{}: {} differs across traced runs: {} vs {}'
                                .format(name, k, va, vb))
            elif unit == 'count' and va != vb:
                print('{}: {} does not repeat: {} vs {}'.format(name, k, va, vb))
        print('{}: exact counters {}'.format(
            name, {k: a[k]['value'] for k in EXACT}))
    for p in problems:
        print('FAIL', p)
    print('selftest', 'failed' if problems else 'passed')
    return 1 if problems else 0


if __name__ == '__main__':
    sys.exit(main())
