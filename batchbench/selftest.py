"""Self-test of the benchmark at a tiny size.

    python3 batchbench/selftest.py

For every workload, on one seed:
- an untraced run of one timed pass must report correct, no failed pass
  and every end-to-end metric of BENCHMARK.json;
- a traced run whose timed pass has one result value perturbed must report
  incorrect with exactly that pass failed (the set-up and warm-up passes,
  left unperturbed, still match), and every per-layer metric of
  BENCHMARK.json.
Exits 0 when all of that holds.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

from run import SETUPS, WARMUP_PASSES

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SEED = 3
SCALE = '0.02'
# checked passes of a run with --seconds 0: the set-ups, the warm-ups, one timed
PASSES = SETUPS + WARMUP_PASSES + 1


def run(workload: str, trace: int, perturb: bool) -> dict:
    cmd = [sys.executable, os.path.join(HERE, 'run.py'), '--workload', workload,
           '--seed', str(SEED), '--seconds', '0', '--trace', str(trace),
           '--scale', SCALE] + (['--perturb'] if perturb else [])
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                         timeout=600)
    if out.returncode != 0:
        raise RuntimeError(f'{cmd} exited {out.returncode}:\n{out.stderr[-3000:]}')
    return json.loads(out.stdout.strip().splitlines()[-1])


def main() -> int:
    with open(os.path.join(ROOT, 'BENCHMARK.json')) as f:
        spec = json.load(f)
    e2e = {m['name'] for m in spec['end_to_end']}
    per_layer = {m['name'] for m in spec['per_layer']}
    problems = []
    for w in (x['name'] for x in spec['workloads']):
        clean = run(w, trace=0, perturb=False)
        if not (clean['correct'] and clean['failed'] == 0 and clean['attempted'] == PASSES):
            problems.append(f'{w}: clean run {clean}')
        if set(clean['metrics']) != e2e:
            problems.append(f'{w}: end-to-end metrics {sorted(clean["metrics"])}')
        bad = run(w, trace=1, perturb=True)
        if bad['correct'] or bad['failed'] != 1 or bad['attempted'] != PASSES:
            problems.append(f'{w}: perturbed run not caught {bad}')
        if set(bad['metrics']) != per_layer:
            problems.append(f'{w}: per-layer metrics {sorted(bad["metrics"])}')
        print(f'{w}: clean {clean["correct"]}/{clean["attempted"]}, '
              f'perturbed failed {bad["failed"]}/{bad["attempted"]}', flush=True)
    for p in problems:
        print('FAIL', p)
    print('selftest', 'FAILED' if problems else 'OK')
    return 1 if problems else 0


if __name__ == '__main__':
    sys.exit(main())
