"""Batch-dir compactor — bounds the daemon's sink file growth.

The continuous EVE pipeline (jobs/run_pipeline.py) writes one
``batch=<id>`` dir per trigger per sink for exactly-once replay
idempotence. At a 1s cadence that is ~86k dirs/day/sink even with
``sink_files=1`` — the reference daemon has no such problem because its
sinks are sockets (consumers drain); a file-sink daemon needs a
compaction story. This module is that story, built on a high-water
mark:

- completed ``batch=N`` dirs older than the ``keep_last`` most recent are
  merged into a single range-named roll DIR ``batch=<lo>-<hi>/`` holding
  one concatenated file, written tmp-dir-then-rename;
- the max rolled ``hi`` is the high-water mark: any batch dir at-or-below
  it is already rolled (a crash between roll write and dir delete leaves
  such dirs) and is deleted, never re-read — no double counting;
- when more than ``fanin`` rolls accumulate, they merge into one
  (log-structured): file count stays O(keep_last + fanin) forever, write
  amplification O(log batches);
- a roll whose range is SUBSUMED by another roll is stale (crash between
  the fanin merge's rename and the old-roll deletes) and is removed
  first — the pass self-heals before producing anything new.

Rolls keep the ``batch=`` key-value dir naming DELIBERATELY: Spark's
partition discovery requires every root-level entry to carry the same
partition key — a bare roll FILE next to ``batch=N`` dirs makes
``spark.read.parquet(root)`` silently DROP the roll's rows (measured:
mixed layout read 1 of 3 rows). With uniform naming a plain read of the
root returns every row, with the ``batch`` partition column widening
from int to string once ranges appear. Everything is driver-side
(pyarrow + file IO): trigger batches are small by construction (that is
the problem being solved), so no Spark jobs. Compaction preserves the
row multiset; only the layout changes.
"""

from __future__ import annotations

import glob
import os
import re

__all__ = ["compact_sink_dir", "sink_file_count"]

_ROLL_RE = re.compile(r"batch=(\d+)-(\d+)$")
_BATCH_RE = re.compile(r"batch=(\d+)$")


def _rolls(root: str) -> dict[tuple[int, int], str]:
    out = {}
    for p in glob.glob(os.path.join(root, "batch=*")):
        m = _ROLL_RE.search(p)
        if m and os.path.isdir(p):
            out[(int(m.group(1)), int(m.group(2)))] = p
    return out


def _batch_dirs(root: str) -> dict[int, str]:
    out = {}
    for p in glob.glob(os.path.join(root, "batch=*")):
        m = _BATCH_RE.search(p)
        if m and os.path.isdir(p):
            out[int(m.group(1))] = p
    return out


def _dir_files(path: str, kind: str) -> list[str]:
    if kind == "parquet":
        return sorted(glob.glob(os.path.join(path, "*.parquet")))
    return sorted(f for f in glob.glob(os.path.join(path, "part-*"))
                  if not f.endswith(".crc"))


def _write_roll(root: str, lo: int, hi: int, kind: str,
                part_files: list[str]) -> str:
    """Concatenate ``part_files`` into the roll DIR batch=<lo>-<hi>/,
    tmp-dir-then-rename (the dir appears atomically or not at all)."""
    import shutil

    ext = "parquet" if kind == "parquet" else ""
    dest = os.path.join(root, f"batch={lo}-{hi}")
    tmp = dest + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    inner = os.path.join(
        tmp, f"part-roll0.{ext}" if ext else "part-roll0")
    if kind == "parquet":
        import pyarrow as pa
        import pyarrow.parquet as pq

        # STREAM row-group-at-a-time: the biggest roll can hold the
        # daemon's entire history, so memory stays bounded by one record
        # batch, not every input whole (see BENCH/MEASUREMENTS.md).
        # Schemas are unified up front from file FOOTERS (metadata only),
        # preserving the old promote_options="default" semantics. A
        # schema-evolving sink gives files with a column missing or in
        # another order, which Table.cast rejects — so each batch is
        # rebuilt in unified-schema order (all-null for absent fields)
        # and only then cast. Spark writes INT96 timestamps which pyarrow
        # surfaces as nanos — coerce to the micros Spark understands.
        readers = [pq.ParquetFile(f) for f in part_files]
        schema = pa.unify_schemas([r.schema_arrow for r in readers],
                                  promote_options="default")
        with pq.ParquetWriter(inner, schema, coerce_timestamps="us",
                              allow_truncated_timestamps=True) as w:
            for r in readers:
                for batch in r.iter_batches():
                    cols = [batch.column(f.name)
                            if f.name in batch.schema.names
                            else pa.nulls(batch.num_rows, f.type)
                            for f in schema]
                    w.write_table(pa.Table.from_arrays(
                        cols, names=schema.names).cast(schema))
        for r in readers:
            r.close()
    else:
        # stream text in bounded chunks; preserve the exactly-one-newline
        # join between concatenated files
        with open(inner, "wb") as out:
            for f in part_files:
                last = b""
                with open(f, "rb") as src:
                    while chunk := src.read(1 << 20):
                        out.write(chunk)
                        last = chunk[-1:]
                if last and last != b"\n":
                    out.write(b"\n")
    shutil.rmtree(dest, ignore_errors=True)  # same-range crash artifact
    os.replace(tmp, dest)
    return dest


def compact_sink_dir(root: str, kind: str, keep_last: int = 16,
                     fanin: int = 8) -> dict:
    """One compaction pass over a sink root of ``batch=<id>`` dirs.

    ``kind`` is ``"parquet"`` (alerts) or ``"text"`` (raw-line forwards).
    Keeps the ``keep_last`` highest batch ids as live dirs (the window a
    tailing consumer may be mid-read on); everything older and complete
    (``_SUCCESS`` present) rolls up. Returns a summary dict. Safe to call
    every trigger — a pass with nothing to do is a couple of globs."""
    import shutil

    rolls = _rolls(root)
    # self-heal: drop rolls subsumed by a wider roll (crash between a
    # fanin merge's rename and the old-roll deletes)
    for (lo, hi), p in list(rolls.items()):
        if any((lo2 <= lo and hi <= hi2) for (lo2, hi2) in rolls
               if (lo2, hi2) != (lo, hi)):
            shutil.rmtree(p, ignore_errors=True)
            del rolls[(lo, hi)]
    for stale in glob.glob(os.path.join(root, "batch=*.tmp")):
        shutil.rmtree(stale, ignore_errors=True)

    high_water = max((hi for (_, hi) in rolls), default=-1)
    batches = _batch_dirs(root)
    removed_stale = 0
    for i, p in list(batches.items()):
        if i <= high_water:  # already rolled; crash-leftover dir
            shutil.rmtree(p, ignore_errors=True)
            del batches[i]
            removed_stale += 1

    live = sorted(batches)
    old_enough = live[:-keep_last] if keep_last else live
    candidates = []
    for i in old_enough:
        if os.path.exists(os.path.join(batches[i], "_SUCCESS")):
            candidates.append(i)
        else:
            # never roll PAST an incomplete dir: if its batch replays and
            # completes later, a high-water mark above it would delete
            # the rewritten dir as stale — data loss. (With keep_last>=1
            # an incomplete dir is always among the newest — replay
            # rewrites the latest uncommitted batch — so this break is a
            # second belt, not the primary guard.)
            break
    rolled = 0
    if candidates:
        files = [f for i in candidates
                 for f in _dir_files(batches[i], kind)]
        if files:
            _write_roll(root, min(candidates), max(candidates), kind, files)
        # else: only part-less dirs — nothing to preserve, delete them
        # without a roll (the high-water mark need not advance: the dirs
        # are gone, so there is nothing to double-count)
        for i in candidates:
            shutil.rmtree(batches[i], ignore_errors=True)
        rolled = len(candidates)
        rolls = _rolls(root)

    merged_rolls = 0
    if len(rolls) > fanin:
        ordered = sorted(rolls)
        files = [f for k in ordered for f in _dir_files(rolls[k], kind)]
        _write_roll(root, ordered[0][0], ordered[-1][1], kind, files)
        for (k, p) in rolls.items():
            if (k[0], k[1]) != (ordered[0][0], ordered[-1][1]):
                shutil.rmtree(p, ignore_errors=True)
        merged_rolls = len(ordered)

    return {"rolled_batches": rolled, "merged_rolls": merged_rolls,
            "removed_stale": removed_stale,
            "live_dirs": len(_batch_dirs(root)),
            "roll_files": len(_rolls(root))}


def sink_file_count(root: str) -> int:
    """Total data files under a sink root (rolls + live batch parts)."""
    n = len(_rolls(root))
    for p in _batch_dirs(root).values():
        n += len(set(_dir_files(p, "parquet")) | set(_dir_files(p, "text")))
    return n


def main(argv: list[str] | None = None) -> int:
    """CLI: ``python -m fever_spark.jobs.compactor ROOT --kind parquet``"""
    import argparse
    import json

    ap = argparse.ArgumentParser(prog="compactor", description=__doc__)
    ap.add_argument("root")
    ap.add_argument("--kind", choices=["parquet", "text"],
                    required=True)
    ap.add_argument("--keep-last", type=int, default=16)
    ap.add_argument("--fanin", type=int, default=8)
    args = ap.parse_args(argv)
    out = compact_sink_dir(args.root, args.kind, keep_last=args.keep_last,
                           fanin=args.fanin)
    print(json.dumps({"root": args.root, **out}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
