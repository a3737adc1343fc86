"""Child-process accounting from ``/proc`` (``psutil`` is not available):
the CPU time and peak memory of a run's process session, and waiting until
every process of the session has ended.

A run is started in a session of its own, so the session holds exactly the
run's process tree: the child Python process, the driver JVM and the
Python workers.

- CPU: user + system time of each process, kept at the last value seen,
  so a process that exits keeps what it used up to its last sample (the
  short-lived launcher JVM of ``spark-submit`` loses at most one sampling
  interval, 50 ms, per thread); a timeline of the session
  total lets a caller take the CPU time spent inside a wall-clock window.
  Time stolen by the hypervisor or spent waiting is not CPU time, so this
  stays steady on a shared host where wall time does not.
- Memory: summed PSS (``/proc/<pid>/smaps_rollup``), which splits each page
  shared by several processes among them, so a forked Python worker or a
  JVM's transient fork is not counted twice.  Reading it walks the page
  tables (a few ms for a JVM), so it is sampled only on request.
"""

from __future__ import annotations

import bisect
import os
import signal
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: str) -> tuple[int, float] | None:
    """(session id, CPU seconds) of ``pid``; None if it is gone or a zombie."""
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii", errors="replace") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return None
    if fields[0] in ("Z", "X"):
        return None
    return int(fields[3]), (int(fields[11]) + int(fields[12])) / _TICK


def session_cpu(sid: int) -> dict[int, float]:
    """CPU seconds of every live process of session ``sid``."""
    out = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            st = _stat(entry)
            if st is not None and st[0] == sid:
                out[int(entry)] = st[1]
    return out


def _pss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup", encoding="ascii") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, IndexError, ValueError):
        pass
    return 0


class SessionSampler:
    """Samples session ``sid`` every ``interval`` seconds on a thread until
    ``stop()``: the CPU timeline always, the peak summed PSS if ``memory``."""

    def __init__(self, sid: int, memory: bool, interval: float = 0.05):
        self.sid, self.memory, self.interval = sid, memory, interval
        self.times: list[float] = []
        self.cpu: list[float] = []
        self.peak_mb = 0.0
        self._seen: dict[int, float] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _sample(self) -> None:
        live = session_cpu(self.sid)
        self._seen.update(live)
        self.times.append(time.monotonic())
        self.cpu.append(sum(self._seen.values()))
        if self.memory:
            pss = sum(_pss_bytes(pid) for pid in live)
            self.peak_mb = max(self.peak_mb, pss / 2**20)

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval)

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def cpu_at(self, t: float) -> float:
        """Session CPU seconds at monotonic time ``t``, interpolated."""
        i = bisect.bisect_left(self.times, t)
        if i == 0:
            return self.cpu[0] if self.cpu else 0.0
        if i == len(self.times):
            return self.cpu[-1]
        t0, t1 = self.times[i - 1], self.times[i]
        c0, c1 = self.cpu[i - 1], self.cpu[i]
        return c0 + (c1 - c0) * (t - t0) / (t1 - t0)


def reap_session(sid: int, grace_s: float = 10.0) -> None:
    """Wait until no process of session ``sid`` is left; after
    ``grace_s`` kill what remains, then wait again."""
    deadline = time.monotonic() + grace_s
    while session_cpu(sid):
        if time.monotonic() > deadline:
            for pid in session_cpu(sid):
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + grace_s
        time.sleep(0.1)
