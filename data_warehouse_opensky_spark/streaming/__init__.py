from .ingest import stream_clean_to_silver, stream_landing_source

__all__ = ["stream_clean_to_silver", "stream_landing_source"]
