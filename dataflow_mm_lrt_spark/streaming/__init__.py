"""Structured-Streaming CEP engine over agent transcripts.

Stages (SURVEY.md §7.1): bounded/unbounded transcript source →
stateless clean/filter (shared with the batch library) → watermark →
stateful ordered assembly + in-conversation dedup
(``applyInPandasWithState`` sorted-run state, with the optional
trailing-corpus near-dup gate) → windowed aggregates (tumbling/sliding/
session) → stream-stream join against tool-call events → exactly-once
sink (one atomically renamed commit manifest per epoch, with
per-partition lineage + metrics).
"""
