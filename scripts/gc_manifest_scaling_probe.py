#!/usr/bin/env python
"""GC metadata-path scaling probe: pooled vs serial manifest GETs.

`snapshot_gc` on an S3Root must GET every manifest under the root to build
its reference sets, and a second-scale streaming trigger commits ~86k
manifests/day — so round 13 moved those GETs onto a 32-way driver
thread pool (the footer-planner pattern). This probe measures exactly
that choice against a live S3 endpoint (moto): it synthesizes roots
with N manifests (no Spark involved — manifests are PUT directly, all
referencing one shared tiny object so the probe times METADATA, not
data), then times

  - the GC dry run (LIST + pooled GETs + set algebra, zero deletes),
  - a serial GET loop over the same manifests (the pre-round-13 shape).

Run: python scripts/gc_manifest_scaling_probe.py  [N ...]
Prints one line per N; record results in SCALE.md.

What this CAN and CANNOT show in-sandbox (recorded measurements,
round 13): moto serves ~50 req/s from one Python process, so once
connections are warm the endpoint itself is the bottleneck — pooled
reads ≈ serial here (0.9-1.0x at 64/256/1024 manifests), while a bare
32-worker pool against the same server wins only ~2x over a COLD serial
walk (connection setup amortization). The pool's target is a real
object store, where each GET is network-RTT-bound (~10-80 ms) and the
service side is effectively unbounded: there a serial walk costs
N x RTT and the pooled walk costs RTT x ceil(N/32). The probe exists so
that claim is re-measurable the day a real endpoint is available —
point S3Conf at it and rerun.
"""

from __future__ import annotations

import json
import sys
import time

sys.path.insert(0, __file__.rsplit("/", 2)[0])


def main(argv: list[str]) -> int:
    import socket
    import subprocess

    import pyarrow as pa
    import pyarrow.parquet as pq

    from pysparkdb.sources import S3Conf, S3Root, snapshot_gc
    from pysparkdb.sources.arrow_s3 import _boto3_client, _S3Store

    sizes = [int(a) for a in argv] or [64, 256, 1024]
    # moto runs OUT-OF-PROCESS on purpose: the pytest-style in-process
    # ThreadedMotoServer shares this interpreter's GIL with the 32 GC
    # worker threads, which INVERTS the measurement (pooled reads slower
    # than serial — an artifact impossible against a real endpoint)
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        port = s.getsockname()[1]
    server = subprocess.Popen(
        [sys.executable, "-m", "moto.server", "-H", "127.0.0.1",
         "-p", str(port)],
        stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
    try:
        deadline = time.time() + 30
        while time.time() < deadline:
            try:
                socket.create_connection(("127.0.0.1", port), 0.5).close()
                break
            except OSError:
                time.sleep(0.2)
        conf = S3Conf(endpoint=f"http://127.0.0.1:{port}", access_key="ak",
                      secret_key="sk", region="us-east-1")
        client = _boto3_client(conf)
        client.create_bucket(Bucket="probe")
        buf = pa.BufferOutputStream()
        pq.write_table(pa.table({"k": [1]}), buf)
        obj = buf.getvalue().to_pybytes()
        schema = json.dumps({"type": "struct", "fields": [
            {"name": "k", "type": "long", "nullable": True, "metadata": {}}]})
        print(f"{'manifests':>10} {'pooled_gc_s':>12} {'serial_get_s':>13} "
              f"{'speedup':>8}")
        for n in sizes:
            kp = f"root{n}"
            client.put_object(Bucket="probe", Key=f"{kp}/data/batch-0/p.parquet",
                              Body=obj)
            for v in range(1, n + 1):
                client.put_object(
                    Bucket="probe", Key=f"{kp}/_manifests/v{v}.json",
                    Body=json.dumps({
                        "version": v, "parent": v - 1 if v > 1 else None,
                        "files": ["data/batch-0/p.parquet"], "n_rows": 1,
                        "bytes": len(obj), "schema": schema,
                        "commit_token": f"t{v}"}).encode())
            # warm the urllib3 connection pool BEFORE either timing:
            # whichever side runs first otherwise pays every TCP setup,
            # which inverted the first version of this measurement
            from concurrent.futures import ThreadPoolExecutor

            root = S3Root(f"s3://probe/{kp}", conf)
            store = _S3Store(root, client=client)
            with ThreadPoolExecutor(max_workers=32) as pool:
                list(pool.map(
                    lambda v: store.get(f"_manifests/v{v}.json"),
                    range(1, min(n, 64) + 1)))
            t0 = time.perf_counter()
            for v in range(1, n + 1):
                store.get(f"_manifests/v{v}.json")
            serial = time.perf_counter() - t0
            t0 = time.perf_counter()
            out = snapshot_gc(root, orphan_grace_s=3600, dry_run=True)
            pooled = time.perf_counter() - t0
            assert out == {"orphans": [], "expired": []}
            print(f"{n:>10} {pooled:>12.3f} {serial:>13.3f} "
                  f"{serial / pooled:>7.1f}x")
    finally:
        server.terminate()
        server.wait(timeout=10)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
