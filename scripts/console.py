#!/usr/bin/env python
"""Interactive SQL console — the reference client's front door, Spark-side.

Mirrors fpdb-main/src/Client.cpp:94-158 (Client::executeQuery): attach a
catalog, take SQL strings, print a row-oriented result table with elapsed
time (Client.cpp:104-110 prints `(TupleSet, elapsed_ns)` the same way).
Where the reference crosses four IRs (SQL → Calcite RelNode JSON →
PrePhysicalPlan → PhysicalPlan actors), here Catalyst owns the whole
pipeline behind `Engine.sql`.

Usage:
    python scripts/console.py [--data-dir DIR] [-c SQL ...]

Without -c, reads statements from stdin (terminated by ';' or EOF — usable
both interactively and piped). Backslash commands:
    \\timing        toggle per-query wall time (default on)
    \\transfer      toggle the CIDR-2024 predicate-transfer pre-pass
    \\mode [M]      show or set the execution mode (pullup / pushdown /
                   caching / hybrid — the reference's exec.conf MODE axis)
    \\explain SQL   show the formatted physical plan instead of rows
    \\metrics SQL   run and print per-operator runtime metrics
                   (the reference's SHOW_OP_TIMES / SHOW_SCAN_METRICS)
    \\tables        list attached tables
    \\versions R    list snapshot versions under root R (local dir or
                   s3:// — the jar-less manifest store, AWS_* env vars)
    \\pin V R [N]   register snapshot version N (or tag name) of root R
                   as view V (Engine.attach_snapshot, local or s3:// —
                   pinned-version time travel)
    \\tag R N [V]   pin version V (default latest) of root R under tag
                   name N — retention-pinned until untagged
    \\tags R        list tags under root R
    \\stats T [C..] profile an attach_arrow_s3 / pinned-snapshot remote
                   view from parquet footers (COUNT/MIN/MAX/nulls; zero
                   data-page GETs)
    \\diff R A B K [-u]  change feed between snapshot versions A and B
                   of root R (local or s3://) keyed on column(s) K —
                   rows tagged _change ∈ {insert, delete}; -u adds
                   full-row null-safe 'update' rows (rewrite boundaries)
    \\gc R [K] [G] [-n]  VACUUM snapshot root R (local or s3://): orphan
                   sweep with grace G seconds (default 600);
                   retain_versions=K adds the version-horizon expiry
                   (erasure completion); -n reports without deleting
    \\q             quit
"""

from __future__ import annotations

import argparse
import os
import sys
import time

# runnable as `python scripts/console.py` from anywhere
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _snapshot_root(root: str):
    """A snapshot root argument as the snapshot_* calls take it: a local
    directory as is, an s3:// root as an S3Root whose jar-less connection
    comes from the standard AWS_* env vars — how the snapshot commands
    reach an object store without a config file (endpoint override covers
    MinIO/moto-style S3-compatible stores)."""
    if not root.startswith(("s3://", "s3a://")):
        return root
    from pysparkdb.sources.arrow_s3 import S3Conf, S3Root

    return S3Root(root, S3Conf(
        endpoint=os.environ.get("AWS_ENDPOINT_URL"),
        access_key=os.environ.get("AWS_ACCESS_KEY_ID"),
        secret_key=os.environ.get("AWS_SECRET_ACCESS_KEY"),
        region=os.environ.get("AWS_REGION")
        or os.environ.get("AWS_DEFAULT_REGION"),
    ))


def run_statement(eng, stmt: str, *, timing: bool, transfer: bool, out=sys.stdout) -> None:
    stmt = stmt.strip().rstrip(";").strip()
    if not stmt:
        return
    if stmt.startswith("\\"):
        raise ValueError(f"unknown backslash command {stmt!r}")
    t0 = time.monotonic()
    df = eng.sql(stmt, predicate_transfer=transfer)
    rows = df.collect()  # the Collate point — results are for the human
    dt = time.monotonic() - t0
    cols = df.columns
    widths = [
        max(len(c), *(len(str(r[i])) for r in rows)) if rows else len(c)
        for i, c in enumerate(cols)
    ]
    line = "+" + "+".join("-" * (w + 2) for w in widths) + "+"
    print(line, file=out)
    print("| " + " | ".join(c.ljust(w) for c, w in zip(cols, widths)) + " |", file=out)
    print(line, file=out)
    for r in rows:
        print(
            "| " + " | ".join(str(v).ljust(w) for v, w in zip(r, widths)) + " |",
            file=out,
        )
    print(line, file=out)
    n = len(rows)
    suffix = f"  ({dt:.3f} s)" if timing else ""
    print(f"{n} row{'s' if n != 1 else ''}{suffix}", file=out)


def sql_complete(text: str) -> bool:
    """True when buffered input ends a statement: its last significant
    character is a ';' OUTSIDE every string literal and '--' comment.
    A naive endswith(';') check would dispatch truncated SQL the moment a
    literal containing ';' spans a line ("SELECT 'a;\\nb';") or a comment
    line ends with ';'. Quotes escape by doubling ('' / "") per SQL, and
    Spark SQL additionally accepts backslash escapes (\\' / \\") inside
    literals by default (spark.sql.parser.escapedStringLiterals=false), so
    both forms must be skipped while scanning."""
    in_q: str | None = None
    in_comment = False
    last_sig = ""
    i, n = 0, len(text)
    while i < n:
        ch = text[i]
        if in_comment:
            if ch == "\n":
                in_comment = False
            i += 1
        elif in_q:
            if ch == "\\":  # backslash escape: skip the escaped character
                i += 2
                continue
            if ch == in_q:
                if i + 1 < n and text[i + 1] == in_q:  # doubled-quote escape
                    i += 2
                    continue
                in_q = None
            i += 1
        elif ch in ("'", '"'):
            in_q = ch
            last_sig = ch
            i += 1
        elif ch == "-" and i + 1 < n and text[i + 1] == "-":
            in_comment = True
            i += 2
        else:
            if not ch.isspace():
                last_sig = ch
            i += 1
    return in_q is None and last_sig == ";"


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--data-dir", default="/root/testdata/sf0.001")
    ap.add_argument("--master", default="local[4]")
    ap.add_argument(
        "-c", dest="commands", action="append", default=[],
        help="execute this SQL and exit (repeatable)",
    )
    args = ap.parse_args(argv)

    from pysparkdb import Engine, get_spark

    eng = Engine(
        get_spark("console", master=args.master,
                  extra_confs={"spark.ui.enabled": "false"}),
        data_dir=args.data_dir,
    )
    timing, transfer = True, False
    pinned: set[str] = set()  # view names THIS console pinned (see \pin)

    def dispatch(stmt: str) -> bool:
        nonlocal timing, transfer
        s = stmt.strip().rstrip(";").strip()
        if not s:
            return True
        if s == "\\q":
            return False
        if s == "\\timing":
            timing = not timing
            print(f"timing {'on' if timing else 'off'}")
        elif s == "\\transfer":
            transfer = not transfer
            print(f"predicate transfer {'on' if transfer else 'off'}")
        elif s.startswith("\\mode"):
            arg = s[len("\\mode"):].strip()
            if arg:
                eng.set_mode(arg)
            print(f"mode {eng.mode}")
        elif s == "\\tables":
            assert eng.catalog is not None
            print(" ".join(sorted(eng.catalog.tables)))
        elif s.startswith("\\versions"):
            from pysparkdb.sources import snapshot_versions

            root = s[len("\\versions"):].strip()
            print(snapshot_versions(_snapshot_root(root)) or "(none)")
        elif s.startswith("\\tags"):
            # \tags <root> — list named tags (name -> version)
            root = s[len("\\tags"):].strip()
            if not root:
                print("usage: \\tags <root>", file=sys.stderr)
            else:
                from pysparkdb.sources import snapshot_tags

                print(snapshot_tags(_snapshot_root(root)) or "(none)")
        elif s.startswith("\\tag"):
            # \tag <root> <name> [version] — pin a version under a named
            # tag (retention-pinned until untagged; readers resolve the
            # name via \pin <view> <root> <name>)
            parts = s[len("\\tag"):].split()
            if len(parts) not in (2, 3):
                print("usage: \\tag <root> <name> [version]",
                      file=sys.stderr)
            else:
                from pysparkdb.sources import snapshot_tag

                ver = int(parts[2]) if len(parts) == 3 else None
                v = snapshot_tag(_snapshot_root(parts[0]), parts[1], ver)
                print(f"{parts[1]} -> v{v}")
        elif s.startswith("\\gc"):
            # \gc <root> [retain_versions] [grace_s] [--age <s>] [-n] —
            # VACUUM a snapshot root (local dir or s3://): orphan sweep
            # always; with retain_versions also the version-horizon
            # expiry that completes the right-to-erasure story; --age
            # adds the AGE horizon (Delta VACUUM-RETAIN shape — versions
            # whose manifest is older than <s> seconds expire too, the
            # newest always survives). Grace defaults to the library's
            # writer-race window (600 s); -n/--dry-run reports what WOULD
            # be deleted without deleting (the review step before
            # byte-level erasure).
            parts = s[len("\\gc"):].split()
            dry = False
            if parts and parts[-1] in ("-n", "--dry-run"):
                dry = True
                parts = parts[:-1]
            age = None
            bad_age = False
            if "--age" in parts:
                i = parts.index("--age")
                if i + 1 >= len(parts):
                    print("--age needs a value (seconds)", file=sys.stderr)
                    bad_age = True
                else:
                    age = float(parts[i + 1])
                    parts = parts[:i] + parts[i + 2:]
            if bad_age:
                pass
            elif not parts or len(parts) > 3:
                print("usage: \\gc <root> [retain_versions] [grace_s] "
                      "[--age <s>] [-n]", file=sys.stderr)
            else:
                retain = int(parts[1]) if len(parts) >= 2 else None
                grace = float(parts[2]) if len(parts) == 3 else 600.0
                from pysparkdb.sources import snapshot_gc

                out = snapshot_gc(_snapshot_root(parts[0]),
                                  retain_versions=retain, orphan_grace_s=grace,
                                  older_than_s=age, dry_run=dry)
                verb = "would expire" if dry else "expired"
                print(f"{verb} {len(out['expired'])} object(s), "
                      f"{'would sweep' if dry else 'swept'} "
                      f"{len(out['orphans'])} orphan(s)")
        elif s.startswith("\\pin"):
            # \pin <view> <root> [version] — register a snapshot version as
            # a queryable view (time travel through the SQL front door);
            # an s3://-rooted snapshot pins through the jar-less manifest
            # path (connection from the standard AWS_* env vars).
            # replace is granted ONLY for names this console pinned
            # earlier — interactive RE-pinning is the command's point, but
            # a blanket replace=True would let one typo'd \pin silently
            # repoint a registered catalog table (the exact shadowing the
            # engine guard refuses); clobbering those surfaces the
            # engine's refusal instead.
            parts = s[len("\\pin"):].split()
            if len(parts) not in (2, 3):
                print("usage: \\pin <view> <root> [version|tag]",
                      file=sys.stderr)
            else:
                # an integer is a version; anything else is a tag name
                ver = None
                if len(parts) == 3:
                    ver = int(parts[2]) if parts[2].isdigit() else parts[2]
                df = eng.attach_snapshot(parts[0], _snapshot_root(parts[1]),
                                         ver, replace=parts[0] in pinned)
                pinned.add(parts[0])
                print(f"{parts[0]}: {df.count()} rows")
        elif s.startswith("\\diff"):
            # \diff <root> <from> <to> <key[,key...]> [-u] — the change
            # feed between two snapshot versions (insert/delete rows
            # tagged _change; -u adds full-row null-safe 'update' rows —
            # a rewrite that scrubs payloads under stable keys is
            # invisible to the membership feed), local dir or s3:// root;
            # what an incremental consumer inspects before shipping a
            # delta
            parts = s[len("\\diff"):].split()
            updates = False
            if parts and parts[-1] in ("-u", "--updates"):
                updates = True
                parts = parts[:-1]
            keys = ([k for k in parts[3].split(",") if k]
                    if len(parts) == 4 else [])
            if len(parts) != 4 or not keys:
                # a degenerate key list (',', ',,') must die here with
                # usage, not deep inside the diff join's analysis
                print("usage: \\diff <root> <from_v> <to_v> "
                      "<key[,key...]> [-u]", file=sys.stderr)
            else:
                from pysparkdb.sources import snapshot_diff

                snapshot_diff(eng.spark, _snapshot_root(parts[0]),
                              int(parts[1]), int(parts[2]), keys,
                              detect_updates=updates).show(50, truncate=False)
        elif s.startswith("\\stats"):
            # \stats <view> [col ...] — footer-stats profile of a remote
            # view attached via Engine.attach_arrow_s3 (zero data GETs)
            parts = s[len("\\stats"):].split()
            if not parts:
                print("usage: \\stats <view> [col ...]", file=sys.stderr)
            else:
                eng.arrow_s3_table_stats(parts[0], parts[1:] or None).show()
        elif s.startswith("\\metrics"):
            from pysparkdb.plans.metrics import collect_with_metrics, format_metrics

            _rows, ops = collect_with_metrics(
                eng.sql(s[len("\\metrics"):].strip(), predicate_transfer=transfer)
            )
            print(format_metrics(ops))
        elif s.startswith("\\explain"):
            from pysparkdb.plans.pushdown import explain_str

            print(
                explain_str(
                    eng.sql(s[len("\\explain"):].strip(), predicate_transfer=transfer),
                    "formatted",
                )
            )
        else:
            run_statement(eng, s, timing=timing, transfer=transfer)
        return True

    failed = [False]

    def safe_dispatch(stmt: str) -> bool:
        # a typo must re-prompt, not kill the session (psql behavior);
        # failures are still recorded so BATCH mode can exit nonzero
        try:
            return dispatch(stmt)
        except Exception as exc:  # noqa: BLE001
            print(f"error: {exc}", file=sys.stderr)
            failed[0] = True
            return True

    for c in args.commands:
        safe_dispatch(c)
    if args.commands:
        # -c batch mode: scripts/CI must see SQL failure (psql exits 1)
        return 1 if failed[0] else 0

    buf: list[str] = []
    interactive = sys.stdin.isatty()
    while True:
        if interactive:
            sys.stdout.write("sql> " if not buf else "...> ")
            sys.stdout.flush()
        line = sys.stdin.readline()
        if not line:  # EOF
            if buf:
                safe_dispatch("\n".join(buf))
            return 0
        if not buf and line.strip().startswith("\\"):
            # backslash COMMAND only at statement start: mid-statement a
            # backslash-leading line is SQL text (a string literal may
            # legitimately continue onto such a line) and must buffer
            if not safe_dispatch(line.strip()):
                return 0
            continue
        # keep newlines: '--' comments and string literals must survive
        buf.append(line.rstrip("\n"))
        if sql_complete("\n".join(buf)):
            stmt = "\n".join(buf)
            buf = []
            if not safe_dispatch(stmt):
                return 0


if __name__ == "__main__":
    sys.exit(main())
