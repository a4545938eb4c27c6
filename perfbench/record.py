"""Run record: host metadata and host contamination over the run.

Contamination is sampled the way tools/steal_sampler.sh samples it: the
aggregate `cpu` line of /proc/stat (steal share of all ticks) and the
PSI `total=` stall counters of /proc/pressure/{cpu,memory,io}, read at
the start and the end of the run and reported as deltas.
"""
import os
import subprocess


def _cpu_ticks():
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return None


def _psi():
    out = {}
    for res in ("cpu", "memory", "io"):
        try:
            with open(f"/proc/pressure/{res}") as f:
                for line in f:
                    kind, *fields = line.split()
                    total = dict(x.split("=") for x in fields)["total"]
                    out[f"{res}_{kind}"] = int(total)
        except (OSError, KeyError, ValueError):
            pass
    return out


def sample():
    return {"cpu": _cpu_ticks(), "psi": _psi()}


def contamination(before, after):
    """Steal % of all CPU ticks, and PSI stall deltas in ms."""
    out = {}
    if before["cpu"] and after["cpu"]:
        d = [b - a for a, b in zip(before["cpu"], after["cpu"])]
        # user nice system idle iowait irq softirq steal ...
        out["steal_pct"] = round(100.0 * d[7] / max(1, sum(d[:8])), 3) if len(d) > 7 else None
    out["psi_stall_ms"] = {k: round((after["psi"][k] - v) / 1000.0, 1)
                           for k, v in before["psi"].items() if k in after["psi"]}
    return out


def git_commit(root):
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count()
