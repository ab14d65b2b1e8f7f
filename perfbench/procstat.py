"""Host and process-tree instruments read from /proc.

- ``steal_s``: cumulative host steal time (``/proc/stat``), in CPU-s;
- ``load1``: the 1-minute load average;
- ``tree_cpu_s``: CPU time of a process and all its descendants
  (utime + stime + reaped children), which for a Spark driver covers
  the driver, the JVM, the pyspark daemon and its workers;
- ``tree_wait_s``: time the tree's live threads spent runnable but
  waiting in this kernel's run queues, for a CPU held by another thread
  of the tree or by another process of the machine;
- ``hwm_mb`` / ``reset_hwm``: peak RSS of one process, resettable so a
  peak can be taken per conversion.
"""

from __future__ import annotations

import os

HZ = os.sysconf("SC_CLK_TCK")


def steal_s() -> float:
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / HZ


def load1() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process ended between listing and reading
        return None
    # comm may contain spaces; fields after it start at ") "
    return raw[raw.rindex(")") + 2:].split()


def descendants(root: int) -> list[int]:
    """root and every live process below it."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """utime + stime + cutime + cstime summed over the process tree.
    A child reaped inside a window moves its time into its parent's
    cutime, so deltas across a window stay correct."""
    total = 0
    for pid in descendants(root or os.getpid()):
        st = _stat(pid)
        if st is not None:
            # after comm: state(0) ppid(1) ... utime(11) stime(12) cutime(13) cstime(14)
            total += sum(int(v) for v in st[11:15])
    return total / HZ


def tree_wait_s(root: int | None = None) -> float:
    """Time the live threads of the process tree spent runnable but
    waiting for a CPU in this kernel's run queues (``schedstat``)."""
    total = 0
    for pid in descendants(root or os.getpid()):
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/schedstat") as f:
                    total += int(f.read().split()[1])
            except (OSError, IndexError):
                continue
    return total / 1e9


def jvm_pid(root: int | None = None) -> int | None:
    for pid in descendants(root or os.getpid()):
        try:
            with open(f"/proc/{pid}/comm") as f:
                if f.read().strip() == "java":
                    return pid
        except OSError:
            continue
    return None


def hwm_mb(pid: int | None = None) -> float:
    with open(f"/proc/{pid or 'self'}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM missing from /proc status")


def reset_hwm() -> None:
    """Reset this process's peak RSS to its current RSS."""
    with open("/proc/self/clear_refs", "w") as f:
        f.write("5")
