"""Process accounting from /proc: the resident memory of every process the
benchmark starts (the Spark driver JVM and its Python workers), hypervisor
steal, and the reaping of those processes when a run ends."""

from __future__ import annotations

import os
import signal
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")


def _proc_table() -> dict[int, tuple[int, int, int, str, str]]:
    """{pid: (ppid, starttime, rss_bytes, state, comm)} of every live process."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                data = f.read()
        except OSError:
            continue
        rp = data.rindex(b")")
        comm = data[data.index(b"(") + 1 : rp].decode(errors="replace")
        # fields after the command: state is field 3 of proc(5), so field k
        # sits at index k - 3
        fields = data[rp + 2 :].split()
        out[int(name)] = (
            int(fields[1]), int(fields[19]), int(fields[21]) * _PAGE,
            fields[0].decode(), comm,
        )
    return out


def _descendants(root: int, table: dict) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, row in table.items():
        children.setdefault(row[0], []).append(pid)
    out, stack = [], [root]
    while stack:
        for c in children.get(stack.pop(), ()):
            out.append(c)
            stack.append(c)
    return out


def steal_seconds() -> float:
    """Cumulative hypervisor steal of the whole machine, from /proc/stat."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _TICK


class TreeMonitor:
    """Samples the RSS of this process's descendants on a daemon thread.

    Every descendant ever seen is remembered (pid, start time), so that
    ``reap`` can wait for processes that were re-parented away from this
    one, such as Python workers whose JVM has exited."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self._seen: dict[int, int] = {}
        self._peak = {"total": 0, "jvm": 0, "python": 0}
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-monitor", daemon=True)

    def start(self) -> "TreeMonitor":
        self._thread.start()
        return self

    def _sample(self) -> None:
        table = _proc_table()
        jvm = py = 0
        with self._lock:
            for pid in _descendants(os.getpid(), table):
                _, start, rss, _, comm = table[pid]
                self._seen[pid] = start
                if comm == "java":
                    jvm += rss
                elif comm.startswith("python"):
                    py += rss
            for key, v in (("total", jvm + py), ("jvm", jvm), ("python", py)):
                self._peak[key] = max(self._peak[key], v)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self._sample()

    def reset_peak(self) -> None:
        self._sample()
        with self._lock:
            self._peak = dict.fromkeys(self._peak, 0)
        self._sample()

    def peak_mb(self) -> dict[str, float]:
        self._sample()
        with self._lock:
            return {k: v / 1e6 for k, v in self._peak.items()}

    def close(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def reap(self, grace: float = 10.0) -> list[int]:
        """Wait until every process this run started has ended: TERM after
        ``grace`` seconds, KILL after twice that.  Returns the pids that had
        to be signalled."""
        self._sample()
        signalled: list[int] = []
        deadline = time.monotonic() + grace
        sent = None
        while True:
            table = _proc_table()
            alive = [
                pid for pid, start in self._seen.items()
                if pid in table and table[pid][1] == start and table[pid][3] != "Z"
            ]
            for pid, start in self._seen.items():
                if pid in table and table[pid][1] == start and table[pid][3] == "Z":
                    try:
                        os.waitpid(pid, os.WNOHANG)
                    except ChildProcessError:
                        pass
            if not alive:
                return signalled
            now = time.monotonic()
            if now > deadline:
                if sent is signal.SIGKILL:
                    raise RuntimeError(f"processes survived SIGKILL: {alive}")
                sent = signal.SIGTERM if sent is None else signal.SIGKILL
                for pid in alive:
                    try:
                        os.kill(pid, sent)
                    except ProcessLookupError:
                        pass
                signalled.extend(p for p in alive if p not in signalled)
                deadline = now + grace
            time.sleep(0.1)
