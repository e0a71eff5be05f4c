"""Streaming layer (SURVEY.md §2.4, §2.6, §7 phases 2-3): watermarks,
keyed-state operators (event-time timers in heartbeat.py, strict-sequence
CEP), streaming dedup and ingest.  Streaming Top-N is not here: it is
pipelines.hot_items.run_streaming_foreach_batch."""
