"""The zip re-read guard that ``import geostructures_spark`` installs in a
PySpark worker (geostructures_spark/__init__.py). Each case runs in a fresh
interpreter, since the guard patches ``zipimport`` process-wide."""

import os
import subprocess
import sys
import textwrap

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_PRELUDE = '''
import importlib, sys, zipfile, zipimport
zp = sys.argv[1]

def write_zip(**mods):
    with zipfile.ZipFile(zp, 'w') as z:
        z.writestr('zpkg/__init__.py', '')
        z.writestr('zpkg/a.py', 'A = 1\\n')
        for name, src in mods.items():
            z.writestr(name + '.py', src)

write_zip()
sys.path.insert(0, zp)
import zpkg.a  # zipimporters for the archive and its package directory
reads = []
_real = zipimport._read_directory
zipimport._read_directory = lambda path: (reads.append(path), _real(path))[1]

def guarded():
    return getattr(zipimport.zipimporter.invalidate_caches, '_stamped', False)

def as_worker():
    from pyspark.core.files import SparkFiles
    SparkFiles._is_running_on_worker = True
'''


def _run(body, tmp_path):
    code = textwrap.dedent(_PRELUDE) + textwrap.dedent(body)
    r = subprocess.run([sys.executable, '-c', code, str(tmp_path / 'mods.zip')],
                       cwd=REPO, capture_output=True, text=True, timeout=300)
    assert r.returncode == 0, r.stdout + r.stderr
    return r.stdout


def test_worker_skips_unchanged_archive_and_rereads_a_rewritten_one(tmp_path):
    out = _run('''
        as_worker()
        import geostructures_spark
        assert guarded()
        importlib.invalidate_caches()
        assert reads == [], reads
        # a rewritten archive is re-read and its new module is importable
        write_zip(zmod_new='Y = 2\\n')
        importlib.invalidate_caches()
        assert reads and set(reads) == {zp}, reads
        import zmod_new
        assert zmod_new.Y == 2
        # an importer that holds no files is re-read even when unchanged
        n = len(reads)
        importlib.invalidate_caches()
        assert len(reads) == n
        sys.path_importer_cache[zp]._files = {}
        importlib.invalidate_caches()
        assert len(reads) == n + 1
        print('ok')
    ''', tmp_path)
    assert out.strip() == 'ok'


def test_non_worker_process_is_left_unpatched(tmp_path):
    out = _run('''
        import pyspark.core.files
        import geostructures_spark
        assert not guarded()
        importlib.invalidate_caches()
        assert zp in reads, reads
        print('ok')
    ''', tmp_path)
    assert out.strip() == 'ok'


def test_guard_is_a_no_op_from_cpython_3_13(tmp_path):
    # 3.13's zipimporter.invalidate_caches only drops the cached entry
    out = _run('''
        as_worker()
        sys.version_info = (3, 13, 0, 'final', 0)
        import geostructures_spark
        assert not guarded()
        print('ok')
    ''', tmp_path)
    assert out.strip() == 'ok'
