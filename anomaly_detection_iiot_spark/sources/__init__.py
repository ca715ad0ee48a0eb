"""Ingestion sources & sinks (SURVEY §2.1 S1-S11): bearing snapshot
directories, KBM sensor CSVs, JSON result logs, merge-on-read upsert
tables. All readers emit the explicit ordering contract
``(experiment, channel, file_ts, sample_idx)`` — Spark has no implicit
row order (SURVEY §7.4), so the order key is materialized at the edge."""
