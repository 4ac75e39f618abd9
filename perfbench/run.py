#!/usr/bin/env python3
"""Benchmark of the graft engine: builds the engine and the benchmark client
from source, runs one workload in a fresh JVM, checks the outputs against
goldens, and prints the metrics as one JSON object on the last line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --smoke           # every workload at sf0.001, asserts the contract
    python3 perfbench/run.py --make-goldens    # rewrite perfbench/goldens.json from this code

Run it from the root of the repository. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import math
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, '.bench_build')
RUNS = os.path.join(ROOT, '.bench_runs')
TRACES = os.path.join(ROOT, '.bench_out')
DATA = os.path.join(HERE, 'data')
GOLDENS = os.path.join(HERE, 'goldens.json')
SCALE = 'sf0.01'  # timed runs; sf0.1 does not fit the measurement budget (see README)
SCALES = ('sf0.001', 'sf0.01', 'sf0.1')
WORKLOADS = ('reorder_pipeline', 'query_mix')
# Untraced runs hash one op in CHECK_EVERY (the residue is the seed's), so
# the check stays small next to the timed pass; traced, smoke and golden
# runs hash every op.
CHECK_EVERY = 4
TIME_LIMIT_S = 170
BUILD_LIMIT_S = 880
JVM_OPENS = ['java.base/java.lang', 'java.base/java.lang.invoke', 'java.base/java.lang.reflect',
             'java.base/java.io', 'java.base/java.net', 'java.base/java.nio', 'java.base/java.util',
             'java.base/java.util.concurrent', 'java.base/java.util.concurrent.atomic',
             'java.base/jdk.internal.ref', 'java.base/sun.nio.ch', 'java.base/sun.nio.cs',
             'java.base/sun.security.action', 'java.base/sun.util.calendar']
MB = 1024.0 * 1024.0


def fail(msg, code=2):
    print(f'perfbench: {msg}', file=sys.stderr)
    sys.exit(code)


# ------------------------------------------------------------------ build

def spark_jars():
    """The Spark jar directory: $SPARK_HOME/jars, else the build's unmanagedBase."""
    home = os.environ.get('SPARK_HOME')
    if home and os.path.isdir(os.path.join(home, 'jars')):
        return os.path.join(home, 'jars')
    sbt = os.path.join(ROOT, 'build.sbt')
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    fail('no Spark jars found: set SPARK_HOME')


def source_files(top, exts=('.scala', '.java')):
    out = []
    for d, _, fs in os.walk(top):
        out += [os.path.join(d, f) for f in fs if f.endswith(exts)]
    return sorted(out)


def build(jars):
    """Compile the engine (src/main) and the client (perfbench/src) with
    scalac into .bench_build/<source hash>; reuse it while no source changes."""
    engine = source_files(os.path.join(ROOT, 'src', 'main'))
    client = source_files(os.path.join(HERE, 'src'))
    if not engine:
        fail('no engine sources under src/main: run from the root of a full checkout')
    h = hashlib.sha256()
    for f in engine + client:
        h.update(os.path.relpath(f, ROOT).encode() + b'\0' + open(f, 'rb').read() + b'\0')
    key = h.hexdigest()[:16]
    out = os.path.join(BUILD, key)
    if os.path.exists(os.path.join(out, 'ok')):
        return out, False
    if os.path.isdir(BUILD):
        for old in os.listdir(BUILD):
            shutil.rmtree(os.path.join(BUILD, old), ignore_errors=True)
    for sub, files, cp in (('engine', engine, f'{jars}/*'),
                           ('client', client, f'{out}/engine:{jars}/*')):
        dest = os.path.join(out, sub)
        os.makedirs(dest, exist_ok=True)
        argfile = os.path.join(out, f'{sub}.args')
        with open(argfile, 'w') as fh:
            fh.write('\n'.join(['-nowarn', '-d', dest, '-cp', cp] + files) + '\n')
        r = subprocess.run(['java', '-Xss16m', '-Xmx2g', '-cp', f'{jars}/*', 'scala.tools.nsc.Main',
                            '@' + argfile], stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                           timeout=BUILD_LIMIT_S)
        if r.returncode != 0:
            sys.stderr.write(r.stdout.decode(errors='replace')[-4000:])
            fail(f'build of {sub} failed', 1)
    open(os.path.join(out, 'ok'), 'w').close()
    return out, True


# -------------------------------------------------------------------- run

def cpu_probe_ms():
    """Milliseconds a fixed single-threaded loop takes (median of five).
    Taken before and after the JVM, on an otherwise idle benchmark, it
    shows how fast the machine ran; the metrics are not adjusted by it."""
    times = []
    for _ in range(5):
        t = time.perf_counter()
        n = 0
        for i in range(1000000):
            n += i
        times.append((time.perf_counter() - t) * 1e3)
    return round(statistics.median(times), 2)


def loadavg():
    try:
        return [float(x) for x in open('/proc/loadavg').read().split()[:3]]
    except OSError:
        return None


def run_jvm(classes, jars, args, run_dir, limit_s, pids):
    """One fresh JVM running perfbench.PerfBench; returns its result. Its pid
    is appended to `pids` as soon as it starts."""
    tmp = os.path.join(run_dir, 'tmp')
    os.makedirs(tmp, exist_ok=True)
    # A fixed heap, so timings do not swing with when the collector grew it.
    # Memory is reported as the live heap after full collections plus the
    # non-heap memory (see liveHeapBytes in PerfBench.scala), which the heap
    # size does not set.
    cmd = (['java', '-Xms3g', '-Xmx3g', '-XX:-UsePerfData', f'-Djava.io.tmpdir={tmp}',
            '-Dio.netty.tryReflectionSetAccessible=true']
           + [f'--add-opens={p}=ALL-UNNAMED' for p in JVM_OPENS]
           + ['-cp', f'{classes}/client:{classes}/engine:{jars}/*', 'perfbench.PerfBench']
           + args + ['--launch-ms', str(int(time.time() * 1000))])
    log_path = os.path.join(run_dir, 'jvm.log')
    with open(log_path, 'wb') as log:
        p = subprocess.Popen(cmd, cwd=run_dir, stdout=log, stderr=subprocess.STDOUT,
                             start_new_session=True)
        pids.append(p.pid)

        def stop(signum, _frame):  # a killed benchmark stops its JVM and cleans up first
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            cleanup(run_dir, p.pid)
            sys.exit(128 + signum)
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            p.wait(timeout=max(10, limit_s))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f'run exceeded {limit_s:.0f} s', 1)
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
            signal.signal(signal.SIGTERM, signal.SIG_DFL)
            signal.signal(signal.SIGINT, signal.SIG_DFL)
    out = os.path.join(run_dir, 'result.json')
    if p.returncode != 0 or not os.path.exists(out):
        sys.stderr.write(open(log_path, errors='replace').read()[-4000:])
        fail(f'benchmark JVM exited with {p.returncode}', 1)
    return json.load(open(out))


def cleanup(run_dir, jvm_pid):
    shutil.rmtree(run_dir, ignore_errors=True)
    if jvm_pid is not None:  # the engine's per-process scratch dir
        shutil.rmtree(f'/tmp/graft_io_{jvm_pid}', ignore_errors=True)
    try:
        os.rmdir(RUNS)
    except OSError:
        pass


# ---------------------------------------------------------------- metrics

def dur(s):
    return (s['end_ns'] - s['start_ns']) / 1e9


def quantile(xs, p, steps=2000):
    """Harrell-Davis estimate of the p-quantile: a weighted mean of all order
    statistics with Beta(p(n+1), (1-p)(n+1)) weights. With the 13 to 23 ops
    of a pass it varies less from run to run than one or two order statistics."""
    xs, n = sorted(xs), len(xs)
    if n == 1:
        return xs[0]
    a, b = p * (n + 1), (1 - p) * (n + 1)
    lb = math.lgamma(a) + math.lgamma(b) - math.lgamma(a + b)

    def pdf(x):
        return math.exp((a - 1) * math.log(x) + (b - 1) * math.log1p(-x) - lb) if 0 < x < 1 else 0.0
    cdf, acc, prev = [0.0], 0.0, pdf(0.0)
    for i in range(1, steps + 1):  # trapezoid-rule Beta CDF on a grid
        cur = pdf(i / steps)
        acc += (prev + cur) / (2 * steps)
        cdf.append(acc)
        prev = cur
    w = [(cdf[(i + 1) * steps // n] - cdf[i * steps // n]) / acc for i in range(n)]
    return sum(wi * x for wi, x in zip(w, xs))


def pass_figures(spans, p):
    """Run time, task time and op latencies of one pass, check and gc spans left out."""
    kids = [s for s in spans if s['parent'] == p['id']]
    checks = [s for s in kids if s['kind'] == 'check']
    ops = [s for s in kids if s['kind'] == 'op']
    run_s = dur(p) - sum(dur(c) for c in kids if c['kind'] in ('check', 'gc'))
    task_s = (p['counters']['task_ms'] - sum(c['counters']['task_ms'] for c in checks)) / 1e3
    return run_s, task_s, [dur(o) for o in ops]


def end_to_end(r):
    spans = r['spans']
    passes = [s for s in spans if s['kind'] == 'pass' and not s['traced']]
    figs = [pass_figures(spans, p) for p in passes]
    lat = [x for f in figs for x in f[2]]
    return {
        'setup_s': (statistics.median(r['setup_s']), 's'),
        'run_s': (statistics.median(f[0] for f in figs), 's'),
        'op_p50_s': (quantile(lat, 0.5), 's'),
        'op_p75_s': (quantile(lat, 0.75), 's'),
        'task_s': (statistics.median(f[1] for f in figs), 's'),
        'peak_rss_mb': ((r['live_heap_peak_b'] + r['off_heap_b']) / MB, 'MB'),
    }, len(lat)


def descendants(spans, root_id):
    kids = {}
    for s in spans:
        kids.setdefault(s['parent'], []).append(s)
    out, todo = [], [root_id]
    while todo:
        for s in kids.get(todo.pop(), []):
            out.append(s)
            todo.append(s['id'])
    return out


# Per-layer figures summed over the ops attributed to each layer.
LAYER_METRICS = (
    ('insta', ('s', 'task_s', 'shuffle_mb', 'max_task_s', 'jobs')),
    ('insta.featureMatrix', ('s', 'task_s')),
    ('ml.metrics', ('s', 'task_s')), ('ml.fit', ('s', 'task_s', 'jobs')),
    ('ml.transform', ('s',)), ('ml.ReorderModel', ('s', 'task_s')),
    ('ext.TextAnalysis', ('s', 'task_s', 'max_task_s')),
    ('ext.Similarity', ('s', 'task_s', 'max_task_s')),
    ('ext.Dedup', ('s', 'task_s', 'max_task_s')),
    ('ext.Associations', ('s', 'task_s', 'max_task_s')),
    ('ext.Events', ('s', 'task_s', 'max_task_s')),
    ('ops.Graph', ('s', 'task_s')), ('ops.Skew', ('s', 'task_s')),
    ('plans.TopKPerKey', ('s',)), ('queries.Analytics', ('s', 'task_s')),
    ('sources', ('s', 'task_s', 'jobs')), ('sources.kv', ('s',)),
    ('streaming', ('s', 'task_s', 'batches', 'state_rows')))
# metric suffix -> (span counter, scale, unit)
COUNTED = {'task_s': ('task_ms', 1e-3, 's'), 'shuffle_mb': ('shuffle_b', 1 / MB, 'MB'),
           'jobs': ('jobs', 1, 'count'), 'batches': ('batches', 1, 'count'),
           'state_rows': ('state_rows', 1, 'count')}


def per_layer(r, untraced_run_s):
    """Per-layer figures over the traced pass and, in the pipeline, the
    layer profile after it."""
    spans = r['spans']
    traced = next(s for s in spans if s['kind'] == 'pass')
    roots = [traced] + [s for s in spans if s['kind'] == 'layers']
    inner = [d for root in roots for d in descendants(spans, root['id'])]
    ops = [s for s in inner if s['kind'] == 'op']
    calls = [s for s in inner if s['kind'] == 'call']

    def of(layer):
        return [s for s in ops if layer in s['layers']]

    def secs(layer):
        return sum(dur(s) for s in of(layer))

    def ctr(layer, key, scale=1.0):
        return sum(s['counters'][key] for s in of(layer)) * scale

    def max_task(layer):
        return max([s['max_task_ms'] for s in of(layer)] or [0]) / 1e3

    m = {}
    for layer, keys in LAYER_METRICS:
        for k in keys:
            if k == 's':
                m[f'{layer}.s'] = (secs(layer), 's')
            elif k == 'max_task_s':
                m[f'{layer}.max_task_s'] = (max_task(layer), 's')
            else:
                key, scale, unit = COUNTED[k]
                m[f'{layer}.{k}'] = (ctr(layer, key, scale), unit)
    batch_ms = [d for (t, d) in r['batches'] if any(s['start_ns'] <= t <= s['end_ns'] for s in roots)]
    m['streaming.batch_p50_ms'] = (statistics.median(batch_ms) if batch_ms else 0.0, 'ms')
    m['streaming.overhead_s'] = (secs('streaming') - ctr('streaming', 'batch_ms', 1e-3), 's')
    m['Layer.cache_peak_mb'] = (r['layer_cache_peak_b'] / MB, 'MB')
    m['Layer.frames'] = (r['layer_frames_peak'], 'count')
    m['queries.build_s'] = (sum(dur(c) for c in calls), 's')
    m['queries.plan_s'] = (sum(s['counters']['plan_ns'] for s in ops) / 1e9, 's')
    m['queries.exec_s'] = (sum(s['counters']['exec_ns'] for s in ops) / 1e9, 's')
    probes = [s for s in inner if s['kind'] in ('check', 'gc')]

    def total(key, scale=1.0):  # over the traced spans, output checks and gc probes left out
        return (sum(s['counters'][key] for s in roots) - sum(s['counters'][key] for s in probes)) * scale
    m['spark.jobs'] = (total('jobs'), 'count')
    m['spark.tasks'] = (total('tasks'), 'count')
    m['Tables.input_mb'] = (total('input_b', 1 / MB), 'MB')
    m['shuffle_mb'] = (total('shuffle_b', 1 / MB), 'MB')
    m['spill_mb'] = (total('spill_b', 1 / MB), 'MB')
    m['jvm.gc_s'] = (total('jvm_gc_ms', 1e-3), 's')
    m['trace.overhead_s'] = (pass_figures(spans, traced)[0] - untraced_run_s, 's')
    return m


def untraced_record(classes, a):
    return os.path.join(TRACES, f'untraced-{os.path.basename(classes)}-{a.workload}-{a.scale}.json')


def record_untraced(classes, a, run_s):
    """Keep the last ten untraced run times of this build, the reference of
    the tracing overhead; records of other builds are dropped."""
    path = untraced_record(classes, a)
    os.makedirs(TRACES, exist_ok=True)
    for f in os.listdir(TRACES):
        if f.startswith('untraced-') and not f.startswith(f'untraced-{os.path.basename(classes)}-'):
            os.remove(os.path.join(TRACES, f))
    rec = json.load(open(path)) if os.path.exists(path) else []
    with open(path, 'w') as fh:
        json.dump((rec + [run_s])[-10:], fh)


def untraced_reference(a, jars, classes, deadline):
    """Median untraced run time of this build, workload and scale; one
    untraced run makes it if none is recorded."""
    path = untraced_record(classes, a)
    if not os.path.exists(path):
        b = argparse.Namespace(**{**vars(a), 'trace': 0})
        record_untraced(classes, b, end_to_end(one_run(b, jars, classes, deadline))[0]['run_s'][0])
    return statistics.median(json.load(open(path)))


# ---------------------------------------------------------------- checks

def load_goldens():
    return json.load(open(GOLDENS)) if os.path.exists(GOLDENS) else {}


def check_outputs(r, goldens, scale):
    """Op names whose row count or content hash differs from the golden."""
    want = goldens.get(scale, {}).get(r['workload'], {})
    bad = []
    for op, got in r['checks'].items():
        g = want.get(op)
        if g is None or g['rows'] != got['rows'] or g['hash'] != got['hash']:
            bad.append(op)
    return bad


# ------------------------------------------------------------------- main

def one_run(a, jars, classes, deadline):
    data = os.path.join(DATA, a.scale)
    if not os.path.isdir(data):
        fail(f'no input tables at {data}')
    os.makedirs(RUNS, exist_ok=True)
    run_dir = os.path.join(RUNS, f'{a.workload}-{os.getpid()}')
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    every = 1 if (a.trace or a.check_all) else CHECK_EVERY
    args = ['--workload', a.workload, '--seed', str(a.seed), '--seconds', str(a.seconds),
            '--trace', str(a.trace), '--data', data, '--warmup-data', os.path.join(DATA, 'sf0.001'),
            '--work', os.path.join(run_dir, 'work'),
            '--out', os.path.join(run_dir, 'result.json'), '--check-every', str(every)]
    if a.dump:
        args += ['--dump', a.dump]
    load0, probe0 = loadavg(), cpu_probe_ms()
    pids = []
    try:
        r = run_jvm(classes, jars, args, run_dir, deadline - time.time(), pids)
    finally:
        if not a.dump:
            cleanup(run_dir, pids[0] if pids else None)
    r['loadavg_start'], r['loadavg_end'] = load0, loadavg()
    r['cpu_probe_ms'] = [probe0, cpu_probe_ms()]
    r['run_dir'], r['jvm_pid'] = run_dir, pids[0]
    return r


def report(a, r, classes, untraced_run_s=None):
    goldens = load_goldens()
    bad = check_outputs(r, goldens, a.scale)
    ops = [s for s in r['spans'] if s['kind'] == 'op']
    errors = r['errors']
    attempted = len(ops) + len(errors)
    failed = len(set(errors) | set(bad))
    print(f'perfbench: workload={r["workload"]} seed={r["seed"]} trace={a.trace} scale={a.scale} '
          f'nproc={os.cpu_count()} jvm_cpus={r["cpus"]} loadavg_start={r["loadavg_start"]} '
          f'loadavg_end={r["loadavg_end"]} cpu_probe_ms={r["cpu_probe_ms"]}')
    print(f'perfbench: jvm_flags={" ".join(r["jvm_flags"])}')
    print(f'perfbench: setup_cold_s={r["setup_cold_s"]:.3f} setup_reps_s={r["setup_s"]} warmup_s={r["warmup_s"]:.3f} '
          f'live_heap_peak_mb={r["live_heap_peak_b"] / MB:.1f} off_heap_mb={r["off_heap_b"] / MB:.1f} '
          f'vm_hwm_mb={r["vm_hwm_kb"] / 1024.0:.1f}')
    print('perfbench: op seconds (call+materialize): ' +
          ' '.join(f'{o["name"]}={dur(o):.3f}' for o in ops))
    print(f'perfbench: checked {len(r["checks"])} outputs; mismatched: {bad or "none"}; '
          f'errors: {errors or "none"}')
    if a.trace:
        metrics = per_layer(r, untraced_run_s)
        os.makedirs(TRACES, exist_ok=True)
        with open(os.path.join(TRACES, f'trace-{r["workload"]}.json'), 'w') as fh:
            json.dump({'run_id': f'{r["workload"]}-{r["seed"]}-{r["jvm_pid"]}',
                       'spans': r['spans']}, fh)
    else:
        metrics, samples = end_to_end(r)
        record_untraced(classes, a, metrics['run_s'][0])
        print(f'perfbench: op_samples={samples} failed_frac={failed / attempted:.4f}')
    return {'correct': failed == 0, 'attempted': attempted, 'failed': failed,
            'metrics': {k: {'value': v, 'unit': u} for k, (v, u) in metrics.items()}}


def make_goldens(a, jars, classes):
    """Hash every checked output of this code at every scale; where the
    engine has DuckDB oracle SQL for an op, the golden is accepted only if
    the engine's oracle gate, tools/check.py, finds the Spark output equal
    to the oracle's result."""
    goldens = {}
    for scale in SCALES:
        for w in WORKLOADS:
            dump = os.path.join(RUNS, f'dump-{scale}-{w}')
            shutil.rmtree(dump, ignore_errors=True)
            os.makedirs(dump)
            b = argparse.Namespace(**{**vars(a), 'workload': w, 'scale': scale, 'trace': 0,
                                      'check_all': True, 'seed': 0, 'seconds': 1, 'dump': dump})
            r = one_run(b, jars, classes, time.time() + TIME_LIMIT_S)
            if r['errors']:
                fail(f'{scale} {w}: ops failed: {r["errors"]}', 1)
            oracle = json.load(open(os.path.join(dump, 'oracle_sql.json')))
            if oracle and subprocess.run([sys.executable, os.path.join(ROOT, 'tools', 'check.py'),
                                          os.path.join(DATA, scale), dump]).returncode != 0:
                fail(f'{scale} {w}: outputs differ from their DuckDB oracle', 1)
            goldens.setdefault(scale, {})[w] = {
                op: {'rows': c['rows'], 'hash': c['hash'], 'source': 'oracle' if op in oracle else 'seed'}
                for op, c in sorted(r['checks'].items())}
            cleanup(r['run_dir'], r['jvm_pid'])
            shutil.rmtree(dump, ignore_errors=True)
            print(f'{scale} {w}: {len(r["checks"])} goldens, {len(oracle)} oracle-checked')
    with open(GOLDENS, 'w') as fh:
        json.dump(goldens, fh, indent=1, sort_keys=True)
        fh.write('\n')


def smoke(a):
    """One traced and one untraced run of every workload at sf0.001: every
    metric in BENCHMARK.json is printed with its unit, and nothing fails."""
    spec = json.load(open(os.path.join(ROOT, 'BENCHMARK.json')))
    problems = []
    for w in WORKLOADS:
        for trace, group in ((0, 'end_to_end'), (1, 'per_layer')):
            p = subprocess.run([sys.executable, __file__, '--workload', w, '--seed', '1',
                                '--seconds', '1', '--trace', str(trace), '--scale', 'sf0.001'],
                               stdout=subprocess.PIPE, cwd=ROOT, timeout=2 * TIME_LIMIT_S)
            lines = p.stdout.decode().strip().splitlines()
            if p.returncode != 0 or not lines:
                problems.append(f'{w} trace={trace}: exit {p.returncode}')
                continue
            res = json.loads(lines[-1])
            if res['failed'] != 0 or not res['correct']:
                problems.append(f'{w} trace={trace}: failed={res["failed"]} ({lines[-2]})')
            for m in spec[group]:
                got = res['metrics'].get(m['name'])
                if got is None or got.get('unit') != m['unit'] or not isinstance(got.get('value'), (int, float)):
                    problems.append(f'{w} trace={trace}: metric {m["name"]} missing or wrong unit')
            print(f'smoke {w} trace={trace}: {len(res["metrics"])} metrics, failed={res["failed"]}')
    if problems:
        print('\n'.join(problems))
        sys.exit(1)
    print('smoke ok')


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument('--workload')
    ap.add_argument('--seed', type=int, default=0)
    ap.add_argument('--seconds', type=float, default=35)
    ap.add_argument('--trace', type=int, choices=(0, 1), default=0)
    ap.add_argument('--scale', default=SCALE, help='input tables under perfbench/data')
    ap.add_argument('--smoke', action='store_true')
    ap.add_argument('--make-goldens', action='store_true')
    a = ap.parse_args()
    a.check_all, a.dump = False, None
    start = time.time()
    if a.smoke:
        return smoke(a)
    jars = spark_jars()
    classes, built = build(jars)
    if a.make_goldens:
        return make_goldens(a, jars, classes)
    if a.workload not in WORKLOADS:
        fail(f'--workload must be one of {", ".join(WORKLOADS)}')
    deadline = start + (BUILD_LIMIT_S if built else TIME_LIMIT_S)
    ref = untraced_reference(a, jars, classes, deadline) if a.trace else None
    r = one_run(a, jars, classes, deadline)
    print(json.dumps(report(a, r, classes, ref)))


if __name__ == '__main__':
    main()
