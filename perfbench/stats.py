"""Pure helpers: percentile rule, span self time and process accounting
read from ``/proc``."""

from __future__ import annotations

import os
import statistics
import time
from collections.abc import Iterable, Sequence

TAIL_BEYOND = 10


def tail_latency(values: Sequence[float], beyond: int = TAIL_BEYOND) -> tuple[float, int]:
    """The sample at the highest percentile with at least ``beyond``
    samples above it, and how many samples lie above it.

    With ``n`` sorted samples that is the one at index ``n - beyond - 1``.
    With ``beyond`` or fewer samples no percentile qualifies; the largest
    sample is returned then, with 0 samples beyond it.
    """
    if not values:
        raise ValueError("no samples")
    ordered = sorted(values)
    if len(ordered) <= beyond:
        return ordered[-1], 0
    idx = len(ordered) - beyond - 1
    return ordered[idx], beyond


def median(values: Iterable[float]) -> float:
    vals = list(values)
    return statistics.median(vals) if vals else 0.0


def self_times(spans: Sequence[dict]) -> dict[int, float]:
    """Span id → duration minus the part of its interval its children
    cover (children may overlap each other; their union is subtracted)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out: dict[int, float] = {}
    for s in spans:
        covered = 0.0
        cur_lo = cur_hi = None
        for lo, hi in sorted(children.get(s["id"], [])):
            lo, hi = max(lo, s["start"]), min(hi, s["end"])
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def layer_self_times(spans: Sequence[dict]) -> dict[str, float]:
    """Layer (span name up to the first dot) → summed self time."""
    own = self_times(spans)
    out: dict[str, float] = {}
    for s in spans:
        layer = s["name"].split(".", 1)[0]
        out[layer] = out.get(layer, 0.0) + own[s["id"]]
    return out


def _read_kv(path: str) -> dict[str, str]:
    with open(path, encoding="ascii") as f:
        return dict(line.split(":", 1) for line in f if ":" in line)


def peak_rss_mb(pids: Iterable[int]) -> float:
    """Sum of the peak resident set (VmHWM) of ``pids``, in MiB."""
    total_kb = 0
    for pid in pids:
        try:
            total_kb += int(_read_kv(f"/proc/{pid}/status")["VmHWM"].split()[0])
        except (OSError, KeyError):
            continue
    return total_kb / 1024.0


def written_bytes(pids: Iterable[int]) -> int:
    """Bytes ``pids`` (and their reaped children) sent to storage."""
    total = 0
    for pid in pids:
        try:
            total += int(_read_kv(f"/proc/{pid}/io")["write_bytes"])
        except (OSError, KeyError):
            continue
    return total


def descendants(pid: int) -> list[int]:
    """Live descendants of ``pid`` (children first)."""
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", encoding="ascii", errors="replace") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(entry))
    out: list[int] = []
    todo = [pid]
    while todo:
        for child in kids.get(todo.pop(), []):
            out.append(child)
            todo.append(child)
    return out


def process_age_s() -> float:
    """Seconds since this process started (start time in clock ticks
    since boot, read against the boot-time clock)."""
    with open("/proc/self/stat", encoding="ascii") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / os.sysconf("SC_CLK_TCK")


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies from the ``cpu`` line of /proc/stat."""
    with open("/proc/stat", encoding="ascii") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    steal = fields[7] if len(fields) > 7 else 0
    # guest time is already counted in user/nice
    return steal, sum(fields[:8])
