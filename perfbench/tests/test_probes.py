import os
import subprocess
import sys
import time
from types import SimpleNamespace

import pytest

import probes


def _stat_line(pid, comm, ppid, utime, stime, cutime, cstime, rss_pages):
    # fields after the command name, numbered from 3 as in proc(5)
    rest = ["S", str(ppid)] + ["0"] * 9 + [str(utime), str(stime), str(cutime), str(cstime)]
    rest += ["0"] * 6 + [str(rss_pages)] + ["0"] * 20
    return f"{pid} ({comm}) " + " ".join(rest) + "\n"


@pytest.fixture
def fake_proc(tmp_path):
    procs = {
        1: ("init", 0, 100, 0, 0, 0, 10),
        10: ("python3", 1, 200, 100, 0, 0, 100),
        11: ("java (gateway) x", 10, 1000, 200, 50, 50, 1000),
        12: ("python3 -m daemon", 11, 30, 10, 60, 0, 50),
        20: ("unrelated", 1, 999, 999, 0, 0, 999),
    }
    for pid, vals in procs.items():
        d = tmp_path / str(pid)
        d.mkdir()
        (d / "stat").write_text(_stat_line(pid, *vals))
    (tmp_path / "self").mkdir()  # non-numeric entries are skipped
    return str(tmp_path)


def test_read_stat_handles_spaces_and_parens(fake_proc):
    ppid, cpu, rss = probes.read_stat(11, fake_proc)
    assert ppid == 10
    assert cpu == pytest.approx(1300 / probes.CLK_TCK)
    assert rss == 1000 * probes.PAGE_BYTES
    assert probes.read_stat(99, fake_proc) is None


def test_tree_stats_counts_only_descendants(fake_proc):
    tree = probes.tree_stats(10, fake_proc)
    assert sorted(tree) == [10, 11, 12]
    cpu = sum(c for c, _ in tree.values())
    assert cpu == pytest.approx((300 + 1300 + 100) / probes.CLK_TCK)
    assert sum(r for _, r in tree.values()) == 1150 * probes.PAGE_BYTES
    assert probes.tree_stats(12345, fake_proc) == {}


def test_tree_counts_a_live_child_and_waits_for_it():
    burn = "import time\nt=time.process_time()\nwhile time.process_time()-t<0.6: pass\ntime.sleep(30)"
    child = subprocess.Popen([sys.executable, "-c", burn])
    try:
        deadline = time.monotonic() + 20
        while probes.tree_cpu_s() - time.process_time() < 0.5 and time.monotonic() < deadline:
            time.sleep(0.05)
        assert child.pid in probes.tree_stats(os.getpid())
        assert probes.tree_cpu_s() - time.process_time() >= 0.5
        assert probes.tree_rss_bytes() > probes.tree_stats(os.getpid())[os.getpid()][1]
        assert not probes.wait_for_descendants(timeout=0.3)
    finally:
        child.kill()
        child.wait(timeout=10)
    assert probes.wait_for_descendants(timeout=10)


def test_rss_sampler_records_a_peak():
    with probes.RssSampler(interval_s=0.01) as s:
        time.sleep(0.1)
    assert s.peak_bytes > 0
    assert not s._thread.is_alive()


def test_process_age_is_positive():
    assert 0 < probes.process_age_s() < time.monotonic() + 1


def _rdd(parts, mem, disk):
    return SimpleNamespace(
        numCachedPartitions=lambda: parts, memSize=lambda: mem, diskSize=lambda: disk
    )


def test_storage_held_sums_cached_rdds():
    infos = [_rdd(4, 3 * probes.MB, probes.MB), _rdd(0, 0, 0), _rdd(2, probes.MB // 2, 0)]
    sc = SimpleNamespace(
        _jsc=SimpleNamespace(sc=lambda: SimpleNamespace(getRDDStorageInfo=lambda: infos))
    )
    mb, n = probes.storage_held(sc)
    assert mb == pytest.approx(4.5)
    assert n == 2
