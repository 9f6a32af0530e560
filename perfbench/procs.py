"""The benchmark's process tree, read from ``/proc`` (this process, the
Spark JVM it starts and the Python workers the JVM starts), and the host
speed reference its costs are divided by."""

from __future__ import annotations

import os
import time

TICKS_PER_S = os.sysconf("SC_CLK_TCK")
EXCLUDED: set[int] = set()  # the benchmark's own helper processes


def descendants() -> set[int]:
    """Pids of every live descendant of this process."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    parent[int(d)] = int(fh.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
    tree, frontier = set(), [os.getpid()]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p and c not in tree]
        tree.update(kids)
        frontier.extend(kids)
    return tree


def peak_rss_mb() -> dict[str, float]:
    """Peak resident set size (VmHWM) in MB of this process and all its
    descendants, summed per command name (``python3`` driver and the
    ``HostSpeed`` sampler, ``java``, ``python`` workers)."""
    mb: dict[str, float] = {}
    for p in descendants() | {os.getpid()}:
        try:
            with open(f"/proc/{p}/status") as fh:
                status = dict(line.split(":", 1) for line in fh if ":" in line)
        except OSError:
            continue
        name = status["Name"].strip()
        mb[name] = mb.get(name, 0.0) + int(status.get("VmHWM", "0 kB").split()[0]) / 1024.0
    return mb


def _ticks(path: str) -> int:
    """utime + stime of a process or thread ``stat`` file (0 once it is
    gone); a process's also counts the exited children it waited for."""
    try:
        with open(path) as fh:
            f = fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0
    return sum(int(x) for x in f[11:15])


def _jit_threads(pid: int) -> list[str]:
    """``stat`` paths of a JVM's JIT compiler threads."""
    out = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for t in tids:
        try:
            with open(f"/proc/{pid}/task/{t}/comm") as fh:
                if fh.read().startswith(("C1 CompilerThre", "C2 CompilerThre")):
                    out.append(f"/proc/{pid}/task/{t}/stat")
        except OSError:
            continue
    return out


def cpu_by_process() -> dict[str, float]:
    """CPU seconds used so far by this process and all its descendants,
    summed per command name (``python3`` driver, ``java``, ``python``
    workers), with the JVM's JIT compiler threads apart as ``jit``."""
    out: dict[str, float] = {}
    for p in (descendants() | {os.getpid()}) - EXCLUDED:
        try:
            with open(f"/proc/{p}/comm") as fh:
                name = fh.read().strip()
        except OSError:
            continue
        compiling = sum(_ticks(t) for t in _jit_threads(p))
        out[name] = out.get(name, 0.0) + (_ticks(f"/proc/{p}/stat") - compiling) / TICKS_PER_S
        out["jit"] = out.get("jit", 0.0) + compiling / TICKS_PER_S
    return out


def cpu_s() -> tuple[float, float]:
    """(work, JIT) CPU seconds, user + system, used so far by this process
    and all its descendants.  JIT is the time of the JVM's JIT compiler
    threads: warm-up work that shrinks towards nothing as a long-running
    program settles, and the main reason a short run's CPU time drifts.
    Work is the rest, less the ``HostSpeed`` sampler's.  Time a thread
    waits for a processor is in neither."""
    by = cpu_by_process()
    jit = by.pop("jit", 0.0)
    return sum(by.values()), jit


def _reference_input() -> bytes:
    """A fixed buffer of 10,000 zigzag varints, as an Avro long column
    encodes them."""
    out = bytearray()
    for i in range(10_000):
        n = (i * 2654435761) % 2_000_003 - 1_000_001
        z = (n << 1) ^ (n >> 63)
        while z >= 0x80:
            out.append((z & 0x7F) | 0x80)
            z >>= 7
        out.append(z)
    return bytes(out)


def reference_ms(buf: bytes) -> float:
    """Thread CPU milliseconds of a fixed pure-Python decode of ``buf`` into
    rows of four values.  The code never changes, so its time measures
    only how fast the host runs code at the moment."""
    t = time.thread_time()
    rows, row, i, n = [], [], 0, len(buf)
    while i < n:
        z = shift = 0
        while True:
            b = buf[i]
            i += 1
            z |= (b & 0x7F) << shift
            if b < 0x80:
                break
            shift += 7
        row.append((z >> 1) ^ -(z & 1))
        if len(row) == 4:
            rows.append({"a": row[0], "b": row[1], "c": row[2], "d": row[3]})
            row = []
    return (time.thread_time() - t) * 1000.0


def _sample(out_path: str, period_s: float) -> None:
    """Time the reference decode every ``period_s`` and write
    ``<epoch s> <ms>`` lines to ``out_path`` until stdin closes."""
    import select
    import sys

    buf = _reference_input()
    with open(out_path, "w") as out:
        while not select.select([sys.stdin], [], [], period_s)[0]:
            out.write(f"{time.time()!r} {reference_ms(buf)!r}\n")
            out.flush()


class HostSpeed:
    """A sampler process that times the reference decode ten times a
    second, under a tenth of one CPU.  On a shared host the speed at which
    the same code runs moves by tens of percent within minutes, differs
    between CPUs from second to second, and shows in CPU time as much as
    in wall time; the mean of the samples over an interval measures it,
    so a cost over that interval can be divided by it."""

    def __init__(self, scratch: str, period_s: float = 0.1) -> None:
        import subprocess
        import sys

        self.path = os.path.join(scratch, "host_speed.txt")
        self.proc = subprocess.Popen(
            [sys.executable, os.path.abspath(__file__), self.path, str(period_s)],
            stdin=subprocess.PIPE,
        )
        EXCLUDED.add(self.proc.pid)

    def samples(self, start: float, end: float) -> list[float]:
        """Reference decode milliseconds sampled between epoch seconds
        ``start`` and ``end``."""
        with open(self.path) as fh:
            pairs = [line.split() for line in fh if line.endswith("\n")]
        return [float(ms) for t, ms in pairs if start <= float(t) <= end]

    def stop(self) -> None:
        self.proc.stdin.close()
        self.proc.wait()
        EXCLUDED.discard(self.proc.pid)


if __name__ == "__main__":
    import sys

    _sample(sys.argv[1], float(sys.argv[2]))
