"""Per-job-group figures from Spark's own event log.

The traced run tags every pass (and every layer probe) with its own job
group. After the session stops, this module reads the application's log
and sums, per group: job spans, stage and task counts, task metrics, and
the SQL metrics of the final (post-AQE) physical plans.
"""

from __future__ import annotations

import glob
import json
import os
import re
from collections import defaultdict

# physical nodes that evaluate Python (UDFs, mapInArrow, applyInPandas, ...)
_PYTHON_NODE = re.compile(r'Python|InPandas|InArrow')
_OUTPUT_ROWS = 'number of output rows'
# nodes that neither drop nor add rows between a join and a filter above it
_PASS_THROUGH = ('Project', 'WholeStageCodegen', 'InputAdapter')


def _read(log_dir: str, app_id: str) -> list[dict]:
    files = [p for p in glob.glob(os.path.join(log_dir, '**', f'*{app_id}*'),
                                  recursive=True)
             if os.path.isfile(p) and not os.path.basename(p).startswith(('.', 'appstatus'))]

    def order(p: str) -> int:  # rolling logs: events_<n>_<app>
        m = re.match(r'events_(\d+)_', os.path.basename(p))
        return int(m.group(1)) if m else 0
    events = []
    for p in sorted(files, key=order):
        with open(p) as f:
            events.extend(json.loads(line) for line in f if line.strip())
    return events


def _union_ms(spans: list[tuple[int, int]]) -> int:
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(spans):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    return total + (cur_e - cur_s if cur_e is not None else 0)


class EventLog:
    def __init__(self, log_dir: str, app_id: str):
        self.jobs: dict[int, dict] = {}
        self.stage_group: dict[int, str] = {}
        self.completed_stages: dict[str, set] = defaultdict(set)
        self.tasks: dict[str, list[dict]] = defaultdict(list)
        self.stage_acc: dict[int, float] = {}
        self.driver_acc: dict[int, float] = defaultdict(float)
        self.plans: dict[int, dict] = {}
        self.exec_group: dict[int, str] = {}
        for e in _read(log_dir, app_id):
            kind = e['Event'].rsplit('.', 1)[-1]
            handler = getattr(self, '_on_' + kind, None)
            if handler:
                handler(e)

    # -- event handlers ----------------------------------------------------
    def _on_SparkListenerJobStart(self, e):
        props = e.get('Properties') or {}
        group = props.get('spark.jobGroup.id')
        self.jobs[e['Job ID']] = {'group': group, 'start': e['Submission Time'],
                                  'end': None}
        for sid in e['Stage IDs']:
            self.stage_group[sid] = group
        xid = props.get('spark.sql.execution.id')
        if xid is not None and group is not None:
            self.exec_group.setdefault(int(xid), group)

    def _on_SparkListenerJobEnd(self, e):
        self.jobs[e['Job ID']]['end'] = e['Completion Time']

    def _on_SparkListenerStageCompleted(self, e):
        info = e['Stage Info']
        self.completed_stages[self.stage_group.get(info['Stage ID'])].add(info['Stage ID'])
        # SQL metrics: each stage reports the running total of the
        # accumulators its tasks updated
        for a in info.get('Accumulables', ()):
            if a.get('Metadata') == 'sql':
                try:
                    v = float(a['Value'])
                except (KeyError, TypeError, ValueError):
                    continue
                self.stage_acc[a['ID']] = max(self.stage_acc.get(a['ID'], 0), v)

    def _on_SparkListenerTaskEnd(self, e):
        self.tasks[self.stage_group.get(e['Stage ID'])].append(e.get('Task Metrics') or {})

    def _on_SparkListenerDriverAccumUpdates(self, e):
        for aid, v in e['accumUpdates']:
            self.driver_acc[aid] += v

    def _on_SparkListenerSQLExecutionStart(self, e):
        self.plans[e['executionId']] = e['sparkPlanInfo']
        if e.get('jobGroupId'):
            self.exec_group[e['executionId']] = e['jobGroupId']

    def _on_SparkListenerSQLAdaptiveExecutionUpdate(self, e):
        self.plans[e['executionId']] = e['sparkPlanInfo']

    # -- queries -----------------------------------------------------------
    def _nodes(self, group: str):
        """(node, parent) pairs of the final plans of the group's SQL
        executions."""
        for xid, g in self.exec_group.items():
            if g != group or xid not in self.plans:
                continue
            todo = [(self.plans[xid], None)]
            while todo:
                node, parent = todo.pop()
                yield node, parent
                todo.extend((c, node) for c in node.get('children', ()))

    def _rows(self, node: dict) -> int:
        for m in node.get('metrics', ()):
            if m['name'] == _OUTPUT_ROWS:
                aid = m['accumulatorId']
                return int(self.stage_acc.get(aid, 0) + self.driver_acc.get(aid, 0))
        return 0

    def join_rows(self, group: str) -> list[tuple[int, int | None]]:
        """(output rows of each join node, output rows of the Filter
        directly above it, or None)."""
        out = []
        parents = {id(n): p for n, p in self._nodes(group)}
        for node, parent in self._nodes(group):
            if 'Join' in node['nodeName']:
                above = parent
                while above is not None and above['nodeName'].startswith(_PASS_THROUGH):
                    above = parents.get(id(above))
                filt = self._rows(above) if above is not None and above['nodeName'] == 'Filter' else None
                out.append((self._rows(node), filt))
        return out

    def group(self, group: str, start_ms: float, end_ms: float) -> dict:
        """Figures of one job group whose caller-side span was
        [start_ms, end_ms] (epoch milliseconds)."""
        spans = [(j['start'], j['end']) for j in self.jobs.values()
                 if j['group'] == group and j['end'] is not None]
        tasks = self.tasks.get(group, [])

        def tsum(*path) -> float:
            total = 0
            for t in tasks:
                v = t
                for k in path:
                    v = v.get(k, {}) if isinstance(v, dict) else 0
                total += v if isinstance(v, (int, float)) else 0
            return total
        union_ms = _union_ms(spans)
        first = min((s for s, _ in spans), default=end_ms)
        last = max((e for _, e in spans), default=end_ms)
        py = [n for n, _ in self._nodes(group) if _PYTHON_NODE.search(n['nodeName'])]
        return {
            'spark.plan_s': (first - start_ms) / 1e3,
            'spark.jobs': len(spans),
            'spark.stages': len(self.completed_stages.get(group, ())),
            'spark.tasks': len(tasks),
            'spark.job_union_s': union_ms / 1e3,
            'spark.driver_gap_s': (last - first - union_ms) / 1e3,
            'spark.after_last_job_s': (end_ms - last) / 1e3,
            'spark.executor_run_s': tsum('Executor Run Time') / 1e3,
            'spark.executor_cpu_s': tsum('Executor CPU Time') / 1e9,
            'spark.gc_s': tsum('JVM GC Time') / 1e3,
            'spark.shuffle_write_bytes': tsum('Shuffle Write Metrics', 'Shuffle Bytes Written'),
            'spark.shuffle_read_bytes': (tsum('Shuffle Read Metrics', 'Remote Bytes Read')
                                         + tsum('Shuffle Read Metrics', 'Local Bytes Read')),
            'spark.spill_bytes': tsum('Disk Bytes Spilled'),
            'spark.python_nodes': len(py),
            'spark.python_rows': sum(self._rows(n) for n in py),
            'spark.result_bytes': tsum('Result Size'),
        }
