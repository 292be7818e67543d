#!/usr/bin/env python
"""Episode census over bench timeline sidecars (VERDICT r14 task #5).

Counts, per sweep timeline, the readings that exceeded their frozen
BENCH_BASELINE.md row (plus band where one is recorded) by more than
2x, bucketed by the attribution its own host counters give:

  steal       — co-tenant steal share above the stall-retry trigger
                threshold (bench.STALL_STEAL_SHARE, 5%): the hypervisor
                descheduled the box; the reading measured the host.
  gc          — driver-JVM GC time above bench.CLEAN_GC_SHARE (10%) of
                the reading's wall: a driver full-GC pause.
  ambiguous   — steal share between the clean wire (1%) and the stall
                wire (5%): some co-tenant heat present, not enough to
                convict it alone (the r14 watch-item class).
  disk        — steal and gc clean but the block devices were busy for
                more than DISK_BUSY_SHARE of the reading's wall
                (disk_ms_d, recorded per reading from round 16): the
                shared-I/O co-tenancy class the round-15 close exposed —
                a zero-steal, zero-PSI window that still fails the scan
                probe was waiting on the device, not computing (VERDICT
                r15 task #5).
  clean_host  — steal AND gc both below noise: the zero-steal episode
                class whose only remaining cause is in-process (the
                createDataFrame(list) worker-pool-restart artifact the
                round-14/15 reshapes excised). THIS bucket shrinking
                across rounds is the reshape campaign's success metric.
                (Sidecars older than round 16 carry no disk counters, so
                their I/O episodes census as clean_host — compare the
                disk bucket only across r16+ sidecars.)

A reading that fired the stall retry is censused on its RAW (pre-retry)
duration — ``stalled_sec`` — because the census counts episodes that
OCCURRED, not episodes that survived into the median.

Usage:
    python scripts/episode_census.py BENCH_r14_timeline.json [more ...]
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
sys.path.insert(0, os.path.dirname(__file__))

from baseline_staleness_audit import parse_frozen  # noqa: E402

import bench  # noqa: E402

BREACH_RATIO = 2.0
N_CPUS = 32  # the protocol config the sidecars are recorded at
# device-busy share of the reading's wall above which an otherwise-clean
# breach is attributed to shared I/O (the block device serviced requests
# for most of the window — calm scan readings on this box sit well under
# 10% because the page cache absorbs the re-read working set)
DISK_BUSY_SHARE = 0.5


def census(timeline: list[dict], frozen: dict, bands: dict) -> dict:
    buckets = {"steal": [], "gc": [], "ambiguous": [], "disk": [],
               "clean_host": []}
    n_frozen_readings = 0
    for e in timeline:
        row = frozen.get(e["name"])
        if row is None:
            continue
        n_frozen_readings += 1
        dur = e.get("stalled_sec", e["sec"])  # raw reading, pre-retry
        wire = BREACH_RATIO * (row + bands.get(e["name"], 0.0))
        if dur <= wire or dur <= 0.5:
            continue
        share = bench.reading_steal_share(
            dur, {"steal_d": e.get("steal_d", 0)}, N_CPUS)
        gc_share = e.get("gc_d_ms", 0) / 1000.0 / max(dur, 1e-9)
        # a sum of busy time over every disk, so it can exceed 1 when
        # several disks are busy at once
        disk_share = e.get("disk_ms_d", 0) / 1000.0 / max(dur, 1e-9)
        if share > bench.STALL_STEAL_SHARE:
            bucket = "steal"
        elif gc_share > bench.CLEAN_GC_SHARE:
            bucket = "gc"
        elif share >= bench.CLEAN_STEAL_SHARE:
            bucket = "ambiguous"
        elif disk_share > DISK_BUSY_SHARE:
            bucket = "disk"
        else:
            bucket = "clean_host"
        buckets[bucket].append(
            {"name": e["name"], "rep": e.get("rep"), "pos": e.get("pos"),
             "sec": round(dur, 2), "ratio": round(dur / row, 2),
             "steal_share": round(share, 4),
             "gc_d_ms": e.get("gc_d_ms", 0),
             "disk_share": round(disk_share, 4)})
    return {
        "readings_with_frozen_row": n_frozen_readings,
        "episodes": sum(len(v) for v in buckets.values()),
        "counts": {k: len(v) for k, v in buckets.items()},
        "detail": buckets,
    }


def main(argv: list[str]) -> int:
    if not argv:
        print(__doc__.split("Usage:")[1].strip(), file=sys.stderr)
        return 2
    frozen, bands = parse_frozen(
        os.path.join(os.path.dirname(__file__), "..", "BENCH_BASELINE.md"))
    for path in argv:
        with open(path) as f:
            data = json.load(f)
        out = census(data["timeline"], frozen, bands)
        counts = out["counts"]
        print(f"{path}: {out['episodes']} episodes "
              f"/ {out['readings_with_frozen_row']} readings — "
              f"steal {counts['steal']}, gc {counts['gc']}, "
              f"ambiguous {counts['ambiguous']}, disk {counts['disk']}, "
              f"clean_host {counts['clean_host']}")
        for bucket in ("clean_host", "disk", "ambiguous", "steal", "gc"):
            for d in out["detail"][bucket]:
                print(f"  [{bucket}] {d['name']} rep{d['rep']} "
                      f"{d['sec']}s ({d['ratio']}x frozen, "
                      f"steal {d['steal_share']:.2%}, gc {d['gc_d_ms']} ms, "
                      f"disk {d['disk_share']:.2%})")
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
