"""Bloom-filter control CLI — the batch analog of fever's mgmt entry point.

The reference exposes ``fever bloom add/show/save/reload``
(cmd/fever/cmds/bloom.go:24-69) over gRPC to a live daemon
(mgmt/mgmtserver.go:96-183), mutating the in-memory filter under a mutex.
In the Spark architecture the filter's durable form IS the file: jobs load
it at startup (or per reload cycle) and broadcast the bytes, so the control
plane reduces to safe file mutation plus a validation verb:

    python -m fever_spark.jobs.bloomctl create --out iocs.bloom.gz \
        --capacity 1000000 --fpp 1e-7 [values...]
    python -m fever_spark.jobs.bloomctl add  --file iocs.bloom.gz v1 v2 ...
    python -m fever_spark.jobs.bloomctl show --file iocs.bloom.gz \
        [--check v1 v2 ...]
    python -m fever_spark.jobs.bloomctl reload --file iocs.bloom.gz

``add`` mirrors mgmtserver.go:120-139 (extend the live filter — here:
load → update → ATOMIC replace through ``BloomFilter.save``, so a daemon
mid-reload never sees a torn file); ``show`` mirrors the show RPC (filter
params + membership probes);
``reload`` validates that the file parses and prints what a daemon's
re-broadcast would pick up — the actual swap semantics are exercised
Spark-side in TestBloomReloadLifecycle (old IOCs stop matching, new ones
start, blacklist veto survives). Values may come from argv, ``--from-file``
(one per line), or stdin with ``-``. Gzip is inferred from ``.gz``.
"""

from __future__ import annotations

import json
import sys

import numpy as np

from fever_spark.sketch.bloom import BloomFilter

__all__ = ["main"]


def _read_values(args) -> np.ndarray:
    vals = list(args.values)
    # '-' means stdin WHEREVER it appears (never a literal value — a
    # filter can't be queried for what it holds, so a silently inserted
    # "-" would be invisible); at most one stdin marker makes sense
    if vals.count("-") > 1:
        raise SystemExit("bloomctl: '-' (stdin) given more than once")
    if "-" in vals:
        i = vals.index("-")
        vals[i:i + 1] = [ln.rstrip("\n") for ln in sys.stdin if ln.strip()]
    if getattr(args, "from_file", None):
        with open(args.from_file) as f:
            vals.extend(ln.rstrip("\n") for ln in f if ln.strip())
    return np.array(vals, dtype=object)


def main(argv: list[str] | None = None) -> int:
    import argparse

    ap = argparse.ArgumentParser(prog="bloomctl", description=__doc__)
    sub = ap.add_subparsers(dest="cmd", required=True)

    p = sub.add_parser("create", help="new filter file (optionally seeded)")
    p.add_argument("--out", required=True)
    p.add_argument("--capacity", type=int, default=100)
    p.add_argument("--fpp", type=float, default=1e-8)
    p.add_argument("--from-file")
    p.add_argument("values", nargs="*")

    p = sub.add_parser("add", help="extend an existing filter (atomic)")
    p.add_argument("--file", required=True)
    p.add_argument("--capacity", type=int, default=100,
                   help="fallback capacity if the file is empty/corrupt")
    p.add_argument("--fpp", type=float, default=1e-8)
    p.add_argument("--from-file")
    p.add_argument("--force-recover", action="store_true",
                   help="replace an unparseable existing filter file with "
                        "a fresh one (prior contents lost); without this, "
                        "a corrupt file fails the add")
    p.add_argument("values", nargs="*")

    p = sub.add_parser("show", help="print filter params (+ probes)")
    p.add_argument("--file", required=True)
    p.add_argument("--check", nargs="*", default=[])

    p = sub.add_parser("reload", help="validate what a reload would load")
    p.add_argument("--file", required=True)

    args = ap.parse_args(argv)

    if args.cmd == "create":
        bf = BloomFilter(capacity=args.capacity, fpp=args.fpp)
        vals = _read_values(args)
        if len(vals):
            bf.update(vals)
        bf.save(args.out)
        print(json.dumps({"created": args.out, **bf.info()}))
        return 0

    if args.cmd == "add":
        # the DAEMON's startup load is tolerant (bloom_handler.go:105-129
        # analog, BloomFilter.load_or_empty: alerting must continue even
        # with a bad file) — but a CLI that MUTATES the durable file is
        # strict: replacing a possibly-valid IOC filter with a fresh one
        # is data loss, so it needs an explicit --force-recover. An IO
        # error (EACCES, transient read failure) is never grounds to
        # replace: fail non-zero and leave the file alone.
        recovered = False
        bf = None
        raw = None
        try:  # the READ: an OSError here (EACCES, transient IO) is never
            with open(args.file, "rb") as fh:  # grounds to replace
                raw = fh.read()
        except FileNotFoundError:  # a missing file is just a first add
            bf = BloomFilter(capacity=args.capacity, fpp=args.fpp)
        except OSError as ex:
            print(f"bloomctl add: cannot read {args.file}: {ex} — "
                  "IO error, file left untouched", file=sys.stderr)
            return 1
        if bf is None:
            try:  # the PARSE: failure here means the CONTENT is corrupt
                import gzip as _gz  # (gzip.BadGzipFile ⊂ OSError, so the
                if raw[:2] == b"\x1f\x8b":  # read/parse split above matters)
                    raw = _gz.decompress(raw)
                bf = BloomFilter.from_bytes(raw)
            except Exception as ex:
                if not args.force_recover:
                    print(f"bloomctl add: {args.file} exists but does not "
                          f"parse as a filter ({repr(ex)[:120]}); pass "
                          "--force-recover to replace it with a fresh "
                          "filter (prior contents lost)", file=sys.stderr)
                    return 1
                recovered = True
                bf = BloomFilter(capacity=args.capacity, fpp=args.fpp)
                print(f"bloomctl add: {args.file} unreadable; replacing "
                      "with a fresh filter (prior contents lost)",
                      file=sys.stderr)
        vals = _read_values(args)
        if not len(vals):
            print("bloomctl add: no values given", file=sys.stderr)
            return 2
        bf.update(vals)
        bf.save(args.file)
        out = {"added": int(len(vals)), "file": args.file, **bf.info()}
        if recovered:
            out["recovered"] = True
        print(json.dumps(out))
        return 0

    if args.cmd == "show":
        try:
            bf = BloomFilter.load(args.file)
        except Exception as ex:
            print(json.dumps({"file": args.file, "error": repr(ex)[:200]}))
            return 1
        out = {"file": args.file, **bf.info()}
        if args.check:
            hits = bf.contains(np.array(args.check, dtype=object))
            out["check"] = {v: bool(h) for v, h in zip(args.check, hits)}
        print(json.dumps(out))
        return 0

    # reload: parse-validate + report — what a daemon's re-broadcast sees
    try:
        bf = BloomFilter.load(args.file)
    except Exception as ex:
        print(json.dumps({"file": args.file, "reload_ok": False,
                          "error": repr(ex)[:200]}))
        return 1
    print(json.dumps({"file": args.file, "reload_ok": True,
                      "state_bytes": len(bf.to_bytes()), **bf.info()}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
