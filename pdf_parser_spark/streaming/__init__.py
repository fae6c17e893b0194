from .stream import stream_extract

__all__ = ["stream_extract"]
