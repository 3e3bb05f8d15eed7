"""Tests for the process-tree memory sampler.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import probes  # noqa: E402

JAVA = "/jdk/bin/java"
PYTHON = "/py/bin/python3"
MB = 2 ** 20


def test_sample_leaves_out_spawns_between_clone_and_exec(monkeypatch):
    # pid 1: the benchmark; 2: driver JVM; 3: a JVM spawn before exec;
    # 4: a driver spawn before exec; 5: Python daemon; 6: a worker it forked
    tree = {1: (0, PYTHON, 100), 2: (1, JAVA, 2000), 3: (2, JAVA, 2000),
            4: (1, PYTHON, 100), 5: (2, PYTHON, 40), 6: (5, PYTHON, 150)}
    monkeypatch.setattr(probes, "process_tree", lambda _pid: set(tree))
    monkeypatch.setattr(probes, "_ppid", lambda p: tree[p][0])
    monkeypatch.setattr(probes, "_exe", lambda p: tree[p][1])
    monkeypatch.setattr(probes, "_resident_bytes", lambda p: tree[p][2] * MB)
    parts = probes.RssSampler()._sample(1)
    assert parts == {"driver_py": 100 * MB, "jvm": 2000 * MB,
                     "workers": 190 * MB, "n_workers": 2}
