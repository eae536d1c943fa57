"""Process-tree CPU and memory read from ``/proc``.

In local mode the JVM (scheduler and executors) and the PySpark Python
workers are all descendants of the benchmark process, so one tree walk
sees every CPU second the program spends, Python and JVM alike.
"""

from __future__ import annotations

import os
import threading

#: seconds between background samples; short against the life of a
#: PySpark Python worker (a signal request forks 2-3 fresh ones, each
#: with 0.2-0.5 s of CPU), so a worker that starts and exits between two
#: op boundaries is still observed
SAMPLE_PERIOD_S = 0.1


class ProcTree:
    """Monotone CPU and high-water RSS of this process and every
    descendant observed so far.

    PySpark's daemon ignores SIGCHLD, so its exited Python workers are
    reaped without reaching any ``cutime``, and a plain tree sum can go
    backwards. A process that disappears is credited with its last
    observed CPU instead: the counter can only miss the final
    unsampled slice of a dead worker, never decrease. A background
    thread samples every ``SAMPLE_PERIOD_S`` so that slice stays short
    and short-lived workers are seen at all. ``cutime`` and ``cstime``
    are ignored, because reaped children that were already observed
    alive would be counted twice."""

    def __init__(self):
        self.root = os.getpid()
        self._hz = os.sysconf("SC_CLK_TCK")
        self._seen: dict[int, int] = {}
        self._lost = 0
        self.peak_rss_kb = 0
        self._lock = threading.Lock()
        self._stopped = threading.Event()
        self._poller = threading.Thread(target=self._poll, daemon=True)
        self._poller.start()

    def _poll(self) -> None:
        while not self._stopped.wait(SAMPLE_PERIOD_S):
            self.sample()

    def stop(self) -> None:
        self._stopped.set()
        self._poller.join()

    def _tree(self) -> dict[int, int]:
        """pid -> utime+stime ticks for the live tree under ``root``."""
        procs: dict[int, tuple[int, int]] = {}
        for p in os.listdir("/proc"):
            if not p.isdigit():
                continue
            try:
                with open(f"/proc/{p}/stat", "rb") as fh:
                    data = fh.read().decode("latin-1")
            except OSError:
                continue  # raced a dying process
            fields = data[data.rindex(")") + 2 :].split()
            # post-comm fields: [1]=ppid [11]=utime [12]=stime
            procs[int(p)] = (int(fields[1]), int(fields[11]) + int(fields[12]))
        kids: dict[int, list[int]] = {}
        for pid, (ppid, _) in procs.items():
            kids.setdefault(ppid, []).append(pid)
        live: dict[int, int] = {}
        stack = [self.root]
        while stack:
            pid = stack.pop()
            if pid in procs:
                live[pid] = procs[pid][1]
                stack.extend(kids.get(pid, ()))
        return live

    @staticmethod
    def _hwm_kb(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        return int(line.split()[1])
        except OSError:
            pass
        return 0

    def sample(self) -> float:
        """Cumulative tree CPU seconds; also updates the RSS high-water
        mark (sum of the live processes' own peaks)."""
        with self._lock:
            live = self._tree()
            for pid, last in list(self._seen.items()):
                if pid not in live:
                    self._lost += last  # died: credit its last observation
                    del self._seen[pid]
            for pid, ticks in live.items():
                # pid reuse: a new incarnation restarting at fewer ticks
                # must not erase the previous one's credit
                if ticks < self._seen.get(pid, 0):
                    self._lost += self._seen[pid]
                self._seen[pid] = ticks
            self.peak_rss_kb = max(self.peak_rss_kb, sum(self._hwm_kb(p) for p in live))
            return (self._lost + sum(live.values())) / self._hz

    def descendants(self) -> list[int]:
        return [p for p in self._tree() if p != self.root]
