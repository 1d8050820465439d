from .source import stage_envelope_files, read_envelope_stream  # noqa: F401
from .job import run_replication_stream, read_checkpoint_table  # noqa: F401
