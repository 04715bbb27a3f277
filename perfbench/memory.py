"""Process-tree memory sampling, session hygiene and process reaping.

psutil is not available, so everything reads ``/proc`` and ``statvfs``
directly. The sampler thread wakes every ``INTERVAL_S`` seconds, sums the
resident set of this process and of its ``java``/``python`` descendants
(the Spark JVM, the Python worker daemon and its workers) and reads the used
bytes of ``/dev/shm``, where the packed kernels keep their pack scratch.
The JVM's live heap is read once, through its management beans.
"""

from __future__ import annotations

import os
import signal
import threading
import time

INTERVAL_S = 0.1
HEAP_GC_ROUNDS = 8
SHM = "/dev/shm"
ENGINE_PREFIX = "vite_"   # prefix of every scratch entry the engine creates
COUNTED = ("java", "python")   # process names whose RSS is summed
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid) -> list[str] | None:
    """Fields of /proc/<pid>/stat from the state on (field 3 = index 0)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return None
    # the command name may contain spaces or ')': split after the last ')'
    return stat[stat.rindex(")") + 2:].split()


def descendants(root: int) -> dict[int, str]:
    """{pid: start time} of every live descendant of ``root``."""
    kids: dict[int, list[tuple[int, str]]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(name)
            if st is not None:
                kids.setdefault(int(st[1]), []).append((int(name), st[19]))
    out, todo = {}, [root]
    while todo:
        for pid, start in kids.get(todo.pop(), ()):
            out[pid] = start
            todo.append(pid)
    return out


def _rss(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE
    except (OSError, IndexError, ValueError):
        return 0


def _kind(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return "?"


def shm_used() -> int:
    try:
        st = os.statvfs(SHM)
    except OSError:
        return 0
    return (st.f_blocks - st.f_bfree) * st.f_frsize


class Sampler(threading.Thread):
    """Peak process-tree RSS and peak /dev/shm use."""

    def __init__(self, root: int | None = None):
        super().__init__(daemon=True)
        self.root = root or os.getpid()
        self.seen: dict[int, str] = {}   # pid -> start time
        self._stop_evt = threading.Event()
        self._lock = threading.Lock()
        self.reset()

    def reset(self) -> None:
        with self._lock:
            self.peak_rss = self.peak_shm = 0
            self.peak_procs: dict[str, int] = {}   # process kind -> RSS

    def sample(self) -> None:
        kids = descendants(self.root)
        # Only the JVM and Python processes: a child the JVM forks (Hadoop's
        # local file system runs chmod) shares the JVM's pages until it
        # execs, and counting it would add the JVM's RSS a second time.
        per = {p: _rss(p) for p in [self.root, *kids]
               if _kind(p).startswith(COUNTED)}
        rss = sum(per.values())
        shm = shm_used()
        with self._lock:
            self.seen.update(kids)
            if rss > self.peak_rss:
                self.peak_procs = {}
                for p, r in per.items():
                    k = _kind(p)
                    self.peak_procs[k] = self.peak_procs.get(k, 0) + r
            self.peak_rss = max(self.peak_rss, rss)
            self.peak_shm = max(self.peak_shm, shm)

    def run(self) -> None:
        while not self._stop_evt.wait(INTERVAL_S):
            self.sample()

    def stop(self) -> None:
        self._stop_evt.set()
        self.join()


def engine_entries(dirs) -> set[str]:
    """Scratch entries the engine created under ``dirs``."""
    out = set()
    for d in dirs:
        try:
            out.update(os.path.join(d, n) for n in os.listdir(d)
                       if n.startswith(ENGINE_PREFIX))
        except OSError:
            pass
    return out


def persistent_rdds(spark) -> int:
    return int(spark.sparkContext._jsc.getPersistentRDDs().size())


def heap_live(spark) -> list[int]:
    """Bytes of JVM heap still in use after a full GC: the sum over the heap
    memory pools of their usage after the last collection. Spark's context
    cleaner frees shuffles and broadcasts only once a GC has dropped their
    last reference, and each freed object can release more at the next GC,
    so the GC is repeated ``HEAP_GC_ROUNDS`` times; the caller keeps the smallest
    of the readings returned (they settle by the fifth on both workloads)."""
    jvm = spark.sparkContext._jvm
    pools = [p for p in
             jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans()
             if p.getType().name() == "HEAP"]
    live = []
    for _ in range(HEAP_GC_ROUNDS):
        jvm.java.lang.System.gc()
        time.sleep(0.2)
        live.append(sum(u.getUsed() for u in
                        (p.getCollectionUsage() for p in pools) if u is not None))
    return [int(x) for x in live]


def _alive(pid: int, start: str) -> bool:
    """True while ``pid`` is the same (non-zombie) process we saw."""
    st = _stat(pid)
    return st is not None and st[0] != "Z" and st[19] == start


def reap(procs: dict[int, str], timeout: float = 30.0) -> None:
    """Wait for the processes ``procs`` ({pid: start time}) to end;
    terminate, then kill, any that linger."""
    procs = {p: t for p, t in procs.items() if p != os.getpid()}
    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        if sig is not None:
            for p, t in procs.items():
                if _alive(p, t):
                    try:
                        os.kill(p, sig)
                    except OSError:
                        pass
        deadline = time.monotonic() + (timeout if sig is None else 10.0)
        while time.monotonic() < deadline and any(
                _alive(p, t) for p, t in procs.items()):
            time.sleep(0.1)
        if not any(_alive(p, t) for p, t in procs.items()):
            return
