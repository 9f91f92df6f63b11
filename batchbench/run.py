"""Seeded, oracle-checked batch benchmark of the engine's queries.

    python3 batchbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. One run:

1. writes seeded copies of the workload's tables under .batchbench/;
2. runs each query's oracle_sql() in DuckDB over them (untimed);
3. sets up three times: a Spark session and a cold first pass, then twice
   more a stopped-and-restarted session and its cold pass;
4. runs WARMUP_PASSES warm-up passes, then closed-loop passes for S
   seconds, each pass calling the unchanged queries() entries and
   collecting their full results, and checks every pass against the oracle;
5. with --trace 1, also runs the passes into a noop sink, probes each layer
   (layers.py) and reads Spark's event log (eventlog.py).

The last stdout line is one JSON object: correct, attempted, failed and the
end-to-end metrics (--trace 0) or the per-layer metrics (--trace 1). A
record with the host readings, input hashes and every pass is written to
.batchbench/records/.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, '.batchbench')
SETUPS = 3
# untimed, checked passes between the set-ups and the timed passes
WARMUP_PASSES = 4
NOOP_PASSES = 3


class Spans:
    """Spans kept in memory and written out once at the end of the run."""

    def __init__(self, run_id: str):
        self.run_id, self.items, self._stack = run_id, [], []

    @contextmanager
    def span(self, name: str):
        item = {'run': self.run_id, 'id': len(self.items), 'name': name,
                'parent': self._stack[-1]['id'] if self._stack else None,
                'start': time.time(), 'end': None}
        self.items.append(item)
        self._stack.append(item)
        try:
            yield item
        finally:
            item['end'] = time.time()
            self._stack.pop()


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split('\n\n')[0])
    p.add_argument('--workload', required=True)
    p.add_argument('--seed', type=int, required=True)
    p.add_argument('--seconds', type=float, required=True)
    p.add_argument('--trace', type=int, choices=(0, 1), default=0)
    p.add_argument('--scale', type=float, default=1.0,
                   help='multiply every table size (the self-test runs tiny)')
    p.add_argument('--perturb', action='store_true',
                   help='change one value of the first timed pass result '
                        'before its check (the self-test proves the check fails)')
    return p.parse_args(argv)


def prepare(work: str, event_log: bool) -> tuple[dict, dict]:
    """Make the run's directories under ``work`` and point Spark, its JVM
    and its Python workers at them, so every file they write stays there.
    Returns the directories and the session's extra configuration."""
    dirs = {k: os.path.join(work, k) for k in ('data', 'local', 'tmp', 'eventlog', 'warehouse')}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ['SPARK_GRAFT_LOCAL_DIR'] = dirs['local']
    os.environ['TMPDIR'] = dirs['tmp']
    os.environ['PYTHONPATH'] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get('PYTHONPATH', '').split(os.pathsep) if p])
    conf = {'spark.ui.showConsoleProgress': 'false',
            'spark.sql.warehouse.dir': dirs['warehouse'],
            'spark.driver.extraJavaOptions': f"-Djava.io.tmpdir={dirs['tmp']}"}
    if event_log:
        conf.update({'spark.eventLog.enabled': 'true',
                     'spark.eventLog.dir': dirs['eventlog'],
                     'spark.eventLog.compress': 'false'})
    return dirs, conf


def supported_percentile(n: int) -> float | None:
    """Highest percentile with at least ten samples beyond it."""
    return None if n < 20 else 100.0 * (1 - 10 / n)


def main(argv=None) -> int:
    args = _args(argv)
    sys.path.insert(0, ROOT)
    # these imports fail outside a full checkout, before anything is printed
    import __spark_entry__ as entry
    from geostructures_spark.plans.session import get_session

    import eventlog
    import inputs
    import layers
    import procs
    import workloads

    wl = workloads.WORKLOADS[args.workload]
    run_id = f'{wl.name}-seed{args.seed}-trace{args.trace}'
    work = os.path.join(STATE, f'{run_id}-{os.getpid()}')
    dirs, conf = prepare(work, event_log=bool(args.trace))

    spans = Spans(run_id)
    record = {'workload': wl.name, 'seed': args.seed, 'trace': args.trace,
              'seconds': args.seconds, 'scale': args.scale,
              'host_start': procs.host_sample()}
    me = os.getpid()
    queries, oracle_sql = entry.queries(), entry.oracle_sql()
    spark = None
    # a SIGTERM unwinds through the finally below, which stops the JVM
    signal.signal(signal.SIGTERM, _terminate)
    try:
        with spans.span('inputs'):
            record['inputs'] = inputs.write_tables(dirs['data'], args.seed,
                                                   wl.sizes(args.scale))
        input_rows = record['inputs'][wl.input_table]['rows']
        with spans.span('oracle'):
            oracles = {q: workloads.OracleCheck(dirs['data'], q, oracle_sql[q])
                       for q in wl.queries}

        attempted = failed = 0
        mismatches = []

        def run_pass(label: str, sink: str = 'collect', perturb: bool = False):
            """One pass of the workload's queries; returns its span and, for
            'collect', checks every full result against its oracle (with
            ``perturb``, the first result has one value changed first)."""
            nonlocal attempted, failed
            spark.sparkContext.setJobGroup(label, label)
            results = {}
            with spans.span(label) as s:
                for q in wl.queries:
                    df = queries[q](spark, dirs['data'])
                    if sink == 'collect':
                        results[q] = df.toPandas()
                    else:
                        df.write.format('noop').mode('overwrite').save()
            if sink == 'collect':
                attempted += 1
                verdicts = {q: oracles[q].check(
                    workloads.perturb(r) if perturb and q == wl.queries[0] else r)
                    for q, r in results.items()}
                bad = {q: v for q, v in verdicts.items() if v != 'OK'}
                if bad:
                    failed += 1
                    mismatches.append({'pass': label, 'verdicts': bad})
            return s

        setups = []
        for i in range(SETUPS):
            if spark is not None:
                spark.stop()
            with spans.span(f'setup-{i}') as s:
                with spans.span('session.start') as ss:
                    spark = get_session(extra_conf=conf)
                run_pass(f'setup-{i}-pass')
            setups.append({'session_s': _duration(ss), 'setup_s': _duration(s)})

        # the JVM is still compiling hot code after the set-ups: the CPU of
        # a pass falls over the first few passes of a session. The JIT warms
        # by calls, not by time, so the warm-up is a count of passes
        for i in range(WARMUP_PASSES):
            run_pass(f'warmup-{i}')
        sampler = procs.PeakRss(me).start()
        passes = []
        deadline = time.perf_counter() + args.seconds
        while not passes or time.perf_counter() < deadline:
            c0 = procs.tree_cpu_s(me)
            sampler.take()
            s = run_pass(f'pass-{len(passes)}', perturb=args.perturb and not passes)
            passes.append({'wall_s': _duration(s),
                           'cpu_s': procs.tree_cpu_s(me) - c0,
                           'peak_rss_bytes': sampler.take(),
                           'start': s['start'], 'end': s['end']})
        record['peak_rss_run_bytes'] = sampler.stop()
        record['host_end'] = procs.host_sample()

        pass_s = statistics.median(p['wall_s'] for p in passes)
        e2e = {
            'pass_s': (pass_s, 's'),
            'input_rows_per_s': (input_rows / pass_s, '1/s'),
            'cpu_s_per_pass': (statistics.median(p['cpu_s'] for p in passes), 's'),
            # each pass's own peak, median over the passes: the largest
            # single sample of a whole run is an extreme value, and its
            # quartile spread over ten runs reached a fifth of the median
            'peak_rss_mb': (statistics.median(p['peak_rss_bytes'] for p in passes) / 2**20, 'MB'),
            'setup_s': (statistics.median(s['setup_s'] for s in setups), 's'),
        }
        record.update({
            'setups': setups, 'passes': passes, 'pass_count': len(passes),
            'highest_supported_percentile': supported_percentile(len(passes)),
            'mismatches': mismatches,
            'end_to_end': {k: v for k, (v, _) in e2e.items()},
        })

        if args.trace:
            noops = [_duration(run_pass(f'noop-{i}', sink='noop'))
                     for i in range(min(NOOP_PASSES, len(passes)))]
            probes = layers.Probes(spark, spans)
            probe_out = dict.fromkeys(layers.LAYER_METRICS, 0)
            probe_out.update(probes.run(wl.name, lambda q: queries[q](spark, dirs['data'])))
            if wl.side:
                side = workloads.WORKLOADS[wl.side]
                side_dir = os.path.join(work, 'side')
                with spans.span('side-inputs'):
                    record['side_inputs'] = inputs.write_tables(
                        side_dir, args.seed, side.sizes(args.scale))
                probe_out.update(probes.run(side.name, lambda q: queries[q](spark, side_dir)))
            app_id = spark.sparkContext.applicationId
            spark.stop()
            spark = None
            log = eventlog.EventLog(dirs['eventlog'], app_id)
            layers.join_rows(log, probe_out)
            collect_s = pass_s - statistics.median(noops)
            per_pass = [log.group(f'pass-{i}', p['start'] * 1e3, p['end'] * 1e3)
                        for i, p in enumerate(passes)]
            for p, g in zip(passes, per_pass):
                accounted = (g['spark.plan_s'] + g['spark.job_union_s']
                             + g['spark.driver_gap_s'] + collect_s)
                g['accounted_share'] = accounted / p['wall_s']
            metrics = {k: (statistics.median(g[k] for g in per_pass), u)
                       for k, u in _SPARK_UNITS.items()}
            metrics['session.start_s'] = (
                statistics.median(s['session_s'] for s in setups), 's')
            metrics['collect.s'] = (collect_s, 's')
            metrics.update({k: (v, _unit(k)) for k, v in probe_out.items()})
            untraced = _untraced_pass_s(wl.name, args.seed)
            record.update({
                'per_pass_spark': per_pass, 'noop_pass_s': noops,
                'accounted_share_median': statistics.median(
                    g['accounted_share'] for g in per_pass),
                'traced_pass_s': pass_s, 'untraced_pass_s': untraced,
                'tracing_overhead_s': None if untraced is None else pass_s - untraced,
                'per_layer': {k: v for k, (v, _) in metrics.items()},
            })
        else:
            metrics = e2e
    finally:
        # the session, its JVM and the JVM's Python workers all end here,
        # on every way out of the run
        procs.stop_spark(spark, me)
        shutil.rmtree(work, ignore_errors=True)

    os.makedirs(os.path.join(STATE, 'records'), exist_ok=True)
    path = os.path.join(STATE, 'records', f'{run_id}.json')
    with open(path, 'w') as f:
        json.dump(record, f, indent=1, default=str)
    with open(os.path.join(STATE, 'records', f'{run_id}.spans.json'), 'w') as f:
        json.dump(spans.items, f)
    print(f'record: {os.path.relpath(path, ROOT)}  passes={len(passes)} '
          f"steal_pct={record['host_start']['steal_pct']}->{record['host_end']['steal_pct']}")
    print(json.dumps({
        'correct': failed == 0, 'attempted': attempted, 'failed': failed,
        'metrics': {k: {'value': v, 'unit': u} for k, (v, u) in metrics.items()},
    }))
    return 0


def _terminate(signum, frame):
    raise SystemExit(128 + signum)


def _duration(span: dict) -> float:
    return span['end'] - span['start']


# the event-log figures reported per layer, with their units
_SPARK_UNITS = {
    'spark.plan_s': 's', 'spark.jobs': 'count', 'spark.stages': 'count',
    'spark.tasks': 'count', 'spark.driver_gap_s': 's',
    'spark.executor_run_s': 's', 'spark.executor_cpu_s': 's', 'spark.gc_s': 's',
    'spark.shuffle_write_bytes': 'bytes', 'spark.shuffle_read_bytes': 'bytes',
    'spark.spill_bytes': 'bytes', 'spark.python_nodes': 'count',
    'spark.python_rows': 'count', 'spark.result_bytes': 'bytes',
}


def _unit(name: str) -> str:
    """Unit of a probe metric, from its name."""
    if name.endswith('_s'):
        return 's'
    return 'ratio' if name.endswith('_ratio') else 'count'


def _untraced_pass_s(workload: str, seed: int) -> float | None:
    """pass_s of the untraced run of the same workload and seed, if one ran
    in this checkout."""
    path = os.path.join(STATE, 'records', f'{workload}-seed{seed}-trace0.json')
    try:
        with open(path) as f:
            return json.load(f)['end_to_end']['pass_s']
    except (OSError, KeyError, ValueError):
        return None


if __name__ == '__main__':
    sys.exit(main())
