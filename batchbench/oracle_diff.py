"""Run one queries() entry on seeded inputs and compare it with its DuckDB
oracle, the check every benchmark pass makes.

    python3 batchbench/oracle_diff.py QUERY --seed N [--scale X]

Writes the tables the query reads (all four the generator knows, unless
listed in TABLES) at the benchmark's sizes times X, prints 'OK' or the first
mismatch, and exits 1 on a mismatch. README.md lists the disagreements it
reproduces.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys

import run

SIZES = {'documents': 80_000, 'customer': 50_000, 'supplier': 250,
         'events': (40_000, 400)}
# the tables a query reads, where it reads fewer than all
TABLES = {'track_speed_stats': ('events',), 'pip_triangle_counts': ('customer',)}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split('\n\n')[0])
    p.add_argument('query')
    p.add_argument('--seed', type=int, required=True)
    p.add_argument('--scale', type=float, default=1.0)
    args = p.parse_args(argv)
    sys.path.insert(0, run.ROOT)
    import __spark_entry__ as entry
    from geostructures_spark.plans.session import get_session

    import inputs
    import procs
    import workloads

    work = os.path.join(run.STATE, f'oracle_diff-{os.getpid()}')
    dirs, conf = run.prepare(work, event_log=False)
    spark = None
    try:
        sizes = {t: n for t, n in SIZES.items() if t in TABLES.get(args.query, SIZES)}
        inputs.write_tables(dirs['data'], args.seed,
                            workloads.scale_sizes(sizes, args.scale))
        oracle = workloads.OracleCheck(dirs['data'], args.query,
                                       entry.oracle_sql()[args.query])
        spark = get_session(extra_conf=conf)
        verdict = oracle.check(entry.queries()[args.query](spark, dirs['data']).toPandas())
    finally:
        procs.stop_spark(spark, os.getpid())
        shutil.rmtree(work, ignore_errors=True)
    print(f'{args.query} seed={args.seed} scale={args.scale}: {verdict}')
    return 0 if verdict == 'OK' else 1


if __name__ == '__main__':
    sys.exit(main())
