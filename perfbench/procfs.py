"""CPU time and peak resident memory of a process, read from /proc."""
import os


def cpu_ms(pid):
    """utime + stime of the whole process, in milliseconds."""
    try:
        with open("/proc/%d/stat" % pid) as fh:
            f = fh.read().rsplit(")", 1)[1].split()
        return (int(f[11]) + int(f[12])) * 1000.0 / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError):
        return 0.0


def hwm_mb(pid):
    """VmHWM, the peak resident set size, in MB."""
    try:
        with open("/proc/%d/status" % pid) as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0
