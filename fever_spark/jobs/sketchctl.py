"""Sketch-state control CLI — the ops companion of jobs/sketch_job.py.

bloomctl (cmd/fever/cmds/bloom.go analog) manages the durable Bloom
FILTER file; sketchctl manages the durable sketch STATE a checkpointed
job leaves behind (``checkpoint_dir/chunk=N`` partials, ``final``,
``manifest.json``). Three verbs:

    python -m fever_spark.jobs.sketchctl show CKPT_DIR
        manifest summary: chunks done, rows, throughput, completion.
    python -m fever_spark.jobs.sketchctl estimate CKPT_DIR \
        [--sketch NAME] [--quantiles 0.5,0.9,0.99] [--items v1 v2 ...]
        per-(keys, sketch) estimates, kind-dispatched: HLL/KMV
        cardinality, KLL/t-digest quantiles, CMS point counts for
        --items, Bloom membership for --items, CMSTopK heavy hitters.
    python -m fever_spark.jobs.sketchctl merge CKPT_DIR [CKPT_DIR ...] \
        --out DIR
        cross-job merge of final states (same specs+keys required —
        mismatched manifests fail loud BEFORE any state is touched).

Everything runs DRIVER-SIDE with pyarrow + the engine's driver merge,
``sketch.base.merge_rows`` (each (keys, sketch) group's states through
``merge_many`` once, every envelope and CRC32 checked): state tables are
O(groups), not O(rows), so no Spark session
(or JVM startup) is needed — and the CLI doubles as an independent
exercise of the byte-format + merge-algebra contract: what a fresh
process reads back from disk and merges must estimate identically to
what the Spark job computed (gated driver-side in q_hll_bound's ctl_ok).
Mergeability across jobs is the whole point of sketch states: merging
two months' checkpoints is a unions-of-unions, never a re-scan.
"""

from __future__ import annotations

import glob
import json
import os
import sys

from fever_spark.files import write_atomic

__all__ = ["main"]


def _manifest(ckpt: str) -> dict:
    with open(os.path.join(ckpt, "manifest.json")) as f:
        return json.load(f)


def _state_rows(path_glob: str) -> list[dict]:
    """Read state parquet rows driver-side (keys..., sketch, state)."""
    import pyarrow.parquet as pq

    rows: list[dict] = []
    for p in sorted(glob.glob(path_glob, recursive=True)):
        rows.extend(pq.read_table(p).to_pylist())
    return rows


def _states(ckpt: str) -> list[dict]:
    """The current merged state rows of a checkpoint dir: ``final`` when
    it exists, else a driver-side merge of every chunk partial (resume-
    in-progress jobs are inspectable too — same states the final merge
    would fold). A BARE state dir with neither layout — e.g. a daemon's
    ``stats_state_dir`` of batch=N flushes — is read recursively and
    merged across its partials the same way (sketch KIND comes from the
    state bytes themselves, so no manifest is needed)."""
    final = glob.glob(os.path.join(ckpt, "final", "*.parquet"))
    if final:
        return _state_rows(os.path.join(ckpt, "final", "*.parquet"))
    rows = (_state_rows(os.path.join(ckpt, "chunk=*", "*.parquet"))
            or _state_rows(os.path.join(ckpt, "**", "*.parquet")))
    return _merged(rows)


def _merged(rows: list[dict]) -> list[dict]:
    """``rows`` merged per (keys..., sketch) by the engine's ``merge_rows``,
    back as state rows; the keys are every column but sketch and state."""
    from fever_spark.sketch.base import merge_rows

    keys = list(_group_key(rows[0])) if rows else []
    return [{**dict(zip(keys, key)), "sketch": key[-1], "state": sk.to_bytes()}
            for key, sk in merge_rows(rows, keys).items()]


def _group_key(row: dict) -> dict:
    return {k: v for k, v in row.items() if k not in ("sketch", "state")}


def _estimate_row(row: dict, specs: dict[str, dict],
                  quantiles: list[float], items: list[str]) -> dict:
    from fever_spark.sketch.base import sketch_from_bytes

    sk = sketch_from_bytes(bytes(row["state"]))
    name = row["sketch"]
    spec = specs.get(name, {})
    out = {**_group_key(row), "sketch": name,
           "kind": spec.get("kind", type(sk).__name__)}
    kls = type(sk).__name__
    # a prehash spec stored xxhash64(item) int64s, not the raw strings —
    # probing it with raw items would return silently-wrong counts
    prehashed = bool(spec.get("prehash"))
    if kls in ("HyperLogLog", "KMVSketch"):
        out["estimate"] = round(sk.estimate(), 2)
    elif kls == "CountMinSketch":
        if items and prehashed:
            out["note"] = ("prehashed sketch: items were inserted as JVM "
                           "xxhash64 int64s — raw-string probes would be "
                           "wrong, probe Spark-side with prehash_col")
        elif items:
            import numpy as np

            est = sk.estimate(np.array(items, dtype=object))
            out["counts"] = {v: int(c) for v, c in zip(items, est)}
        else:
            out["note"] = "point-query sketch: pass --items to estimate"
    elif kls in ("KLLSketch", "TDigest"):
        out["quantiles"] = {str(q): float(sk.quantile(q)) for q in quantiles}
    elif kls == "BloomFilter":
        if items and prehashed:
            out["note"] = ("prehashed sketch: probe Spark-side with "
                           "prehash_col, raw-string probes would be wrong")
        elif items:
            import numpy as np

            hits = sk.contains(np.array(items, dtype=object))
            out["contains"] = {v: bool(h) for v, h in zip(items, hits)}
        else:
            out["note"] = "membership sketch: pass --items to probe"
    elif kls == "CMSTopK":
        out["heavy_hitters"] = [
            {"item": str(v), "count": int(c)}
            for v, c in sk.heavy_hitters(10)]
    return out


def main(argv: list[str] | None = None) -> int:
    import argparse

    ap = argparse.ArgumentParser(prog="sketchctl", description=__doc__)
    sub = ap.add_subparsers(dest="cmd", required=True)

    p = sub.add_parser("show", help="manifest summary")
    p.add_argument("ckpt")

    p = sub.add_parser("estimate", help="per-group estimates from state")
    p.add_argument("ckpt")
    p.add_argument("--sketch", default=None, help="only this sketch name")
    p.add_argument("--quantiles", default="0.5,0.9,0.99")
    p.add_argument("--items", nargs="*", default=[],
                   help="values for CMS point queries / Bloom probes")

    p = sub.add_parser("merge", help="merge final states across jobs")
    p.add_argument("ckpts", nargs="+")
    p.add_argument("--out", required=True)

    args = ap.parse_args(argv)

    if args.cmd == "show":
        m = _manifest(args.ckpt)
        chunks = m.get("chunks", {})
        secs = sum(c["seconds"] for c in chunks.values())
        rows = sum(c["rows"] for c in chunks.values())
        print(json.dumps({
            "checkpoint": args.ckpt,
            "completed": m.get("completed", False),
            "keys": m.get("keys", []),
            "specs": [{"name": s["name"], "kind": s["kind"],
                       "column": s["column"]} for s in m.get("specs", [])],
            "chunks_done": len(chunks),
            "rows": rows,
            "seconds": round(secs, 3),
            "rows_per_sec": round(rows / secs, 1) if secs else None,
        }))
        return 0

    if args.cmd == "estimate":
        try:  # bare state dirs (daemon stats_state_dir) have no manifest:
            m = _manifest(args.ckpt)  # kind then comes from the state bytes
        except FileNotFoundError:
            m = {}
        specs = {s["name"]: s for s in m.get("specs", [])}
        qs = [float(q) for q in args.quantiles.split(",") if q]
        rows = _states(args.ckpt)
        if args.sketch:
            rows = [r for r in rows if r["sketch"] == args.sketch]
            if not rows:
                print(f"sketchctl: no state rows for sketch "
                      f"{args.sketch!r}", file=sys.stderr)
                return 1
        for r in sorted(rows, key=lambda r: json.dumps(
                _group_key(r), sort_keys=True, default=str)):
            print(json.dumps(_estimate_row(r, specs, qs, args.items),
                             default=str))
        return 0

    # merge: validate signatures FIRST, fail loud before touching state
    manifests = [_manifest(c) for c in args.ckpts]
    sig0 = (manifests[0].get("specs"), manifests[0].get("keys"))
    for c, m in zip(args.ckpts[1:], manifests[1:]):
        if (m.get("specs"), m.get("keys")) != sig0:
            raise SystemExit(
                f"sketchctl: spec/key signature of {c} does not match "
                f"{args.ckpts[0]} — states from different job definitions "
                "must not be merged")
    rows = _merged([r for c in args.ckpts for r in _states(c)])
    # atomic replace of final/: write the merged table into a temp dir
    # and os.replace it over final/, then write the manifest atomically —
    # a crash mid-merge must never leave an empty/partial final/ under a
    # manifest still claiming completed=True (later show/estimate would
    # silently read nothing)
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(args.out, exist_ok=True)
    final_dir = os.path.join(args.out, "final")
    tmp_dir = final_dir + ".tmp"
    shutil.rmtree(tmp_dir, ignore_errors=True)
    os.makedirs(tmp_dir)
    table = pa.Table.from_pylist(rows)
    pq.write_table(table, os.path.join(tmp_dir, "part-00000.parquet"))
    if os.path.isdir(final_dir):  # os.replace can't clobber a non-empty dir
        # two renames (POSIX has no atomic non-empty-dir swap): the only
        # crash window is between them, and it leaves the previous state
        # intact at final.old — never an empty final/ under a
        # completed=True manifest
        old = final_dir + ".old"
        shutil.rmtree(old, ignore_errors=True)
        os.replace(final_dir, old)
        os.replace(tmp_dir, final_dir)
        shutil.rmtree(old, ignore_errors=True)
    else:
        os.replace(tmp_dir, final_dir)
    out_manifest = {
        "job_id": "sketchctl-merge",
        "merged_from": list(args.ckpts),
        "specs": manifests[0].get("specs"),
        "keys": manifests[0].get("keys"),
        "chunks": {}, "completed": True,
        "total_rows": sum(m.get("total_rows", 0) for m in manifests),
    }
    write_atomic(os.path.join(args.out, "manifest.json"),
                 json.dumps(out_manifest, indent=1).encode())
    print(json.dumps({"out": args.out, "groups": len(rows),
                      "merged_from": len(args.ckpts)}))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except BrokenPipeError:  # `sketchctl estimate ... | head` is routine
        os.dup2(os.open(os.devnull, os.O_WRONLY), sys.stdout.fileno())
        sys.exit(0)
