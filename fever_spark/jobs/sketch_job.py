"""Checkpointed, resumable sketch-build job (north_rule: "resumable from
checkpoint with per-partition lineage + metrics").

Unit of work = a CHUNK of input files (file-level lineage — the natural
restart granularity of a 100 TB table scan; fever's analog is losing at most
one 50k-event COPY chunk on crash, README.md:134 — ours loses nothing).

For each chunk:  read files → build_sketches (partition-local) →
two_level_merge → write ``chunk=<i>`` parquet under the checkpoint dir →
append a lineage record (files, row count via df.observe, wall time, rows/s)
to ``manifest.json`` (written atomically via rename).

Resume: chunks present in the manifest are skipped — their checkpointed
states are read back instead of recomputed. Because every sketch merge is
associative and chunk order is fixed, a resumed run produces BYTE-IDENTICAL
final states to an uninterrupted one (tested).

Final: merge all chunk states (one more two_level_merge over the checkpoint
parquet), write final states + a completed manifest.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import asdict, dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from fever_spark.files import write_atomic
from fever_spark.ops.build import SketchSpec, build_sketches
from fever_spark.ops.merge import two_level_merge

MANIFEST = "manifest.json"


@dataclass
class SketchJob:
    input_path: str
    checkpoint_dir: str
    keys: list[str]
    specs: list[SketchSpec]
    files_per_chunk: int = 8
    job_id: str = "sketch_job"
    # optional per-chunk derivation (add window/host columns, explode
    # tokens, ...) applied between read and build; must be deterministic —
    # it re-runs identically on resume
    prepare: callable = None

    # -- manifest ------------------------------------------------------------

    def _manifest_path(self) -> str:
        return os.path.join(self.checkpoint_dir, MANIFEST)

    def _spec_signature(self) -> list:
        # normalize through JSON so it compares equal to what a round-trip
        # through manifest.json produces
        return json.loads(json.dumps([asdict(s) for s in self.specs],
                                     default=str))

    def _load_manifest(self) -> dict:
        try:
            with open(self._manifest_path()) as f:
                manifest = json.load(f)
        except (OSError, json.JSONDecodeError):
            return {"job_id": self.job_id, "input": self.input_path,
                    "specs": [asdict(s) for s in self.specs],
                    "keys": self.keys, "chunks": {}, "completed": False}
        # resuming with DIFFERENT specs/keys would silently mix old
        # checkpointed states with new ones (or return a frame missing the
        # new sketches entirely) — refuse loudly instead
        if (manifest.get("specs") != self._spec_signature()
                or manifest.get("keys") != list(self.keys)):
            raise ValueError(
                f"checkpoint at {self.checkpoint_dir} was written with "
                "different specs/keys than this job; use a fresh "
                "checkpoint dir (or resume=False to rebuild)")
        return manifest

    def _save_manifest(self, manifest: dict) -> None:
        write_atomic(self._manifest_path(),
                     json.dumps(manifest, indent=1, default=str).encode())

    # -- chunking ------------------------------------------------------------

    def _input_files(self, spark: SparkSession) -> list[str]:
        import glob

        if os.path.isfile(self.input_path):  # single parquet file
            return [self.input_path]
        files = sorted(glob.glob(os.path.join(self.input_path, "**", "*.parquet"),
                                 recursive=True))
        if not files:
            raise FileNotFoundError(f"no parquet files under {self.input_path}")
        return files

    def _chunks(self, files: list[str]) -> list[list[str]]:
        return [files[i:i + self.files_per_chunk]
                for i in range(0, len(files), self.files_per_chunk)]

    # -- run -----------------------------------------------------------------

    def run(self, spark: SparkSession, resume: bool = True,
            max_chunks: int | None = None) -> DataFrame:
        """Execute (or resume) the job; returns the final merged sketch DF.
        ``max_chunks`` stops early after N chunks (for resume testing /
        incremental operation)."""
        os.makedirs(self.checkpoint_dir, exist_ok=True)
        manifest = self._load_manifest() if resume else {
            "job_id": self.job_id, "input": self.input_path,
            "specs": [asdict(s) for s in self.specs], "keys": self.keys,
            "chunks": {}, "completed": False}

        files = self._input_files(spark)
        chunks = self._chunks(files)
        done = 0
        for idx, chunk_files in enumerate(chunks):
            cid = str(idx)
            if cid in manifest["chunks"]:
                continue  # lineage says done — skip (the resume path)
            if max_chunks is not None and done >= max_chunks:
                self._save_manifest(manifest)
                return None
            t0 = time.time()
            df = spark.read.parquet(*chunk_files)
            if self.prepare is not None:
                df = self.prepare(df)
            # Observation metric rides the build job itself — the row count
            # comes from the SAME scan that feeds the sketches, not a second
            # pass (at 100 TB an extra count() per chunk is a full re-read)
            obs = Observation(f"chunk_{idx}")
            observed = df.observe(obs, F.count(F.lit(1)).alias("rows"))
            built = build_sketches(observed, self.keys, self.specs)
            merged = two_level_merge(built, self.keys)
            chunk_dir = os.path.join(self.checkpoint_dir, f"chunk={idx}")
            merged.write.mode("overwrite").parquet(chunk_dir)
            elapsed = time.time() - t0
            n_rows = int(obs.get["rows"])
            manifest["chunks"][cid] = {
                "files": chunk_files, "rows": n_rows,
                "seconds": round(elapsed, 3),
                "rows_per_sec": round(n_rows / max(elapsed, 1e-9), 1),
                "finished_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            }
            self._save_manifest(manifest)
            done += 1

        # final merge over all chunk states
        all_states = spark.read.parquet(
            *[os.path.join(self.checkpoint_dir, f"chunk={i}")
              for i in range(len(chunks))])
        final = two_level_merge(all_states.drop("chunk"), self.keys)
        final_dir = os.path.join(self.checkpoint_dir, "final")
        final.coalesce(1).write.mode("overwrite").parquet(final_dir)
        manifest["completed"] = True
        manifest["total_rows"] = sum(c["rows"] for c in manifest["chunks"].values())
        manifest["total_seconds"] = round(
            sum(c["seconds"] for c in manifest["chunks"].values()), 3)
        self._save_manifest(manifest)
        return spark.read.parquet(final_dir)


def run_sketch_job(spark: SparkSession, input_path: str, checkpoint_dir: str,
                   keys: list[str], specs: list[SketchSpec],
                   resume: bool = True, **kw) -> DataFrame:
    return SketchJob(input_path=input_path, checkpoint_dir=checkpoint_dir,
                     keys=keys, specs=specs, **kw).run(spark, resume=resume)


def main(argv: list[str] | None = None) -> None:
    """spark-submit entry point:
    python -m fever_spark.jobs.sketch_job --input DIR --checkpoint DIR \
        --keys lang --specs '[{"name":"u","kind":"hll","column":"url"}]'
    """
    import argparse

    from fever_spark.session import get_spark

    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--checkpoint", required=True)
    ap.add_argument("--keys", default="")
    ap.add_argument("--specs", required=True, help="JSON list of SketchSpec kwargs")
    ap.add_argument("--files-per-chunk", type=int, default=8)
    ap.add_argument("--no-resume", action="store_true")
    ap.add_argument("--master", default=None)
    args = ap.parse_args(argv)

    specs = [SketchSpec(**d) for d in json.loads(args.specs)]
    keys = [k for k in args.keys.split(",") if k]
    spark = get_spark(master=args.master, app_name="fever_spark_sketch_job")
    final = run_sketch_job(spark, args.input, args.checkpoint, keys, specs,
                           resume=not args.no_resume,
                           files_per_chunk=args.files_per_chunk)
    print(json.dumps({"final_rows": final.count(),
                      "checkpoint": args.checkpoint}))
    spark.stop()


if __name__ == "__main__":
    main()
