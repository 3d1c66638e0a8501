"""Structured Streaming parity layer.

The reference is a streaming engine: TCP line source -> regex projection ->
per-group count packs -> columnar sink (SURVEY.md §3.1). This package
re-expresses that dataflow on Structured Streaming:

- sources.py     — socket / rate-generator / file / kafka line sources
                   (A1-A5)
- packs.py       — exact-count packs with remainder carry across
                   micro-batches (A17's one streaming form,
                   applyInPandasWithState), each pack's parquet file
                   written as it is cut
- pipeline.py    — parse plan on a stream + the checkpointed pack
                   sink + graceful stop (A18-A22)
- packstore.py   — read side and maintenance of the pack layout
                   (read_packs, compaction)
- metrics.py     — StreamingQueryListener heartbeat (A24)
- neardup.py     — incremental MinHash near-dup against a banded
                   signature index (exactly-once foreachBatch); the
                   registry's streaming_minhash_dedup runs it
"""
