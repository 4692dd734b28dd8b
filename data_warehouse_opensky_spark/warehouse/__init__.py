from .control import FileLog, JobLog
from .etl import build_gold_marts, discover_new_files, stage_files

__all__ = [
    "FileLog",
    "JobLog",
    "build_gold_marts",
    "discover_new_files",
    "stage_files",
]
