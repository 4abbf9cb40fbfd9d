from fever_spark.sources.synth import synth_pages, synth_iocs
from fever_spark.sources.io import read_pages, write_table

__all__ = ["synth_pages", "synth_iocs", "read_pages", "write_table"]
