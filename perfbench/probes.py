"""Measurement probes that sit outside the engine.

- ``RssSampler``: peak resident memory of this process and every
  descendant (the JVM and the Python workers), polled from ``/proc``
  as proportional set size, so pages that forked workers share with
  their parent are counted once.  Processes younger than a second are
  skipped: a child the JVM is spawning shares the JVM's address space
  until it execs, and would count the JVM's memory twice.
- ``wrap_sweep_kernel``: times each call of the E-step sweep kernel
  inside the executors, through two Spark accumulators.
- ``numpy_kernel_rate``: the same kernel without Spark, on fixed-seed
  arrays.
"""

from __future__ import annotations

import os
import threading
import time

import numpy as np

MIN_AGE_S = 1.0
_TICKS = os.sysconf("SC_CLK_TCK")


def _children_map() -> dict:
    """ppid -> pids of the processes at least MIN_AGE_S old."""
    with open("/proc/uptime") as fh:
        born_before = float(fh.read().split()[0]) - MIN_AGE_S
    kids: dict = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:  # the process ended while we looked
            continue
        # fields after the parenthesised command name: state, ppid, ...,
        # starttime (in clock ticks since boot) is the 20th
        fields = stat[stat.rfind(")") + 2:].split()
        if int(fields[19]) / _TICKS > born_before:
            continue
        kids.setdefault(int(fields[1]), []).append(int(name))
    return kids


def _pss_bytes(pid: int) -> int:
    with open(f"/proc/{pid}/smaps_rollup") as fh:
        for line in fh:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def tree_rss(root_pid: int) -> dict:
    """Proportional resident bytes of ``root_pid`` and all its
    descendants older than MIN_AGE_S, summed per command name.  A child
    forked and not yet exec'd shares every page with its parent and so
    adds nothing."""
    kids = _children_map()
    by_name: dict = {}
    stack = [root_pid]
    while stack:
        pid = stack.pop()
        stack.extend(kids.get(pid, ()))
        try:
            rss = _pss_bytes(pid)
            with open(f"/proc/{pid}/comm") as fh:
                name = fh.read().strip()
        except OSError:
            continue
        by_name[name] = by_name.get(name, 0) + rss
    return by_name


class RssSampler:
    """Background poller of the process tree's resident memory."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self.peak_by_name: dict = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        pid = os.getpid()
        while not self._stop.is_set():
            by_name = tree_rss(pid)
            total = sum(by_name.values())
            if total > self.peak_bytes:
                self.peak_bytes, self.peak_by_name = total, by_name
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)


def wrap_sweep_kernel(inner, busy_acc, calls_acc):
    """A drop-in for ``numpy_sweep_backend`` that adds each call's wall
    time to ``busy_acc`` and one to ``calls_acc``.  Built as a closure
    so cloudpickle ships it by value; executors need no benchmark code."""

    def timed_sweep(elb, counts_pad, gamma, alpha, max_gamma_iter, gamma_tol):
        t0 = time.perf_counter()
        out = inner(elb, counts_pad, gamma, alpha, max_gamma_iter, gamma_tol)
        busy_acc.add(time.perf_counter() - t0)
        calls_acc.add(1)
        return out

    return timed_sweep


def numpy_kernel_rate(kernel, shape, sweeps, seconds=1.0, seed=0):
    """Median slot*topic*sweeps per second of ``kernel`` on fixed-seed
    ``(B, n_max, K)`` inputs, over repeats filling ``seconds``."""
    B, n_max, K = shape
    rng = np.random.default_rng(seed)
    logits = rng.standard_normal((B, n_max, K))
    elb = logits - np.log(np.exp(logits).sum(axis=2, keepdims=True))
    counts = rng.integers(0, 4, size=(B, n_max)).astype(np.float64)
    alpha = np.full(K, 1.0 / K)
    rates = []
    t_end = time.perf_counter() + seconds
    while len(rates) < 3 or time.perf_counter() < t_end:
        gamma = alpha[None, :] + counts.sum(axis=1)[:, None] / K
        t0 = time.perf_counter()
        kernel(elb, counts, gamma, alpha, sweeps, 0.0)
        rates.append(B * n_max * K * sweeps / (time.perf_counter() - t0))
    return float(np.median(rates))


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, f))
            except OSError:
                continue
    return total
