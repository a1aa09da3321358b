"""The pre-check before a run: no other Spark JVM may be running, since
totals inflate by about 60% beside one. The run's host-load stamp itself
(other JVMs, load average, calibration drift, steal share, and the
contended verdict) is taken inside the harness JVM by graft.Bench's own
preflight, so the benchmark and Bench stamp by one rule.
"""
import os


def _ancestors() -> set:
    pids, pid = set(), os.getpid()
    while pid > 1:
        pids.add(pid)
        try:
            with open(f"/proc/{pid}/stat") as f:
                pid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            break
    return pids


def spark_jvms() -> int:
    """Spark JVMs on the host other than this process's ancestors; -1 when
    /proc cannot be scanned (unknown is not clean)."""
    try:
        entries = os.listdir("/proc")
    except OSError:
        return -1
    mine, n = _ancestors(), 0
    for e in entries:
        if not e.isdigit() or int(e) in mine:
            continue
        try:
            with open(f"/proc/{e}/cmdline", "rb") as f:
                argv = f.read().split(b"\0")
        except OSError:
            continue
        if (argv and os.path.basename(argv[0]).startswith(b"java")
                and b"spark" in b" ".join(argv).lower()):
            n += 1
    return n
