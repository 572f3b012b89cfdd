"""Process-tree accounting from /proc: CPU seconds, resident memory, and
orderly shutdown of the Spark driver JVM and its Python workers.

The tree is this process plus every descendant: the driver JVM that
PySpark launches, the pyspark daemon it forks and the Python workers the
daemon forks in turn.
"""

from __future__ import annotations

import os
import signal
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # field 2 (comm) may hold spaces: split after its closing paren
    return raw[raw.rindex(")") + 2:].split()


def _cmd_has(pid: int, needle: bytes) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return needle in f.read()
    except OSError:
        return False


def _alive(pid: int) -> bool:
    st = _stat(pid)
    return st is not None and st[0] != "Z"


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _stat(int(name))
        if st is not None:
            children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _jit_cpu(pid: int) -> float:
    """CPU seconds of a JVM's JIT compiler threads ("C1/C2 CompilerThre",
    as the kernel truncates their names); 0 for any other process."""
    total = 0.0
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0.0
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        comm = raw[raw.index("(") + 1:raw.rindex(")")]
        if comm.startswith(("C1 Compiler", "C2 Compiler")):
            st = raw[raw.rindex(")") + 2:].split()
            total += (int(st[11]) + int(st[12])) / _TICK
    return total


def tree_cpu(root: int) -> tuple[float, float, float]:
    """(all CPU seconds, Python-worker CPU seconds, JIT compiler CPU
    seconds) of the tree, counting reaped children through
    cutime/cstime."""
    total = workers = jit = 0.0
    for pid in descendants(root):
        st = _stat(pid)
        if st is None:
            continue
        # fields 14-17 of stat: utime stime cutime cstime
        cpu = sum(int(x) for x in st[11:15]) / _TICK
        total += cpu
        if _cmd_has(pid, b"pyspark.daemon"):
            workers += cpu
        elif _cmd_has(pid, b"java"):
            jit += _jit_cpu(pid)
    return total, workers, jit


_PF_FORKNOEXEC = 0x40  # forked and not (yet) exec'd


def _own_memory(pid: int) -> bool:
    """False for a child that is between fork and exec: the JVM starts
    helpers with vfork/posix_spawn, and until the exec such a child
    shares the JVM's address space and reports the JVM's RSS as its own.
    Python workers forked by the pyspark daemon never exec and hold
    their own copy-on-write memory, so they count."""
    st = _stat(pid)
    if st is None:
        return False
    return not int(st[6]) & _PF_FORKNOEXEC or _cmd_has(pid, b"pyspark.daemon")


def tree_rss_bytes(root: int) -> int:
    """Summed RSS of the tree's processes that hold their own memory."""
    rss = 0
    for pid in descendants(root):
        if pid != root and not _own_memory(pid):
            continue
        try:
            with open(f"/proc/{pid}/statm") as f:
                rss += int(f.read().split()[1]) * _PAGE
        except OSError:
            pass
    return rss


class RssSampler:
    """Background sampler of the tree's summed RSS; ``peak`` in bytes."""

    def __init__(self, root: int, interval: float = 0.2):
        self.root = root
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(self.root))
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def stop_spark(spark, timeout: float = 60.0) -> None:
    """Stop the session, end the driver JVM and wait for every process
    it started; anything still alive after ``timeout`` is killed."""
    from pyspark import SparkContext

    me = os.getpid()
    started = [p for p in descendants(me) if p != me]
    try:
        spark.stop()
    finally:
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None) if gw is not None else None
        if gw is not None:
            try:
                gw.shutdown()
            except Exception:  # noqa: BLE001 - the JVM may already be gone
                pass
        if proc is not None:
            # the gateway JVM exits when its stdin reaches EOF
            try:
                proc.stdin.close()
            except OSError:
                pass
            try:
                proc.wait(timeout=timeout)
            except Exception:  # noqa: BLE001
                proc.kill()
                proc.wait(timeout=10)
        SparkContext._gateway = None
        SparkContext._jvm = None
        deadline = time.time() + timeout
        alive = started
        while alive and time.time() < deadline:
            alive = [p for p in alive if _alive(p)]
            if alive:
                time.sleep(0.1)
        for pid in alive:
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass
        for pid in alive:
            while _alive(pid) and time.time() < deadline + 10:
                time.sleep(0.05)
