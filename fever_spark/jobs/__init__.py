from fever_spark.jobs.sketch_job import SketchJob, run_sketch_job
from fever_spark.jobs.shard_writer import write_training_shards

__all__ = ["SketchJob", "run_sketch_job", "write_training_shards"]
