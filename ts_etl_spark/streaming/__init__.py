"""Structured Streaming ingest: the file-source drain with crash-safe
dedup state (``ingest``) and the persisted ANN serving index it feeds
(``ann_index``)."""
