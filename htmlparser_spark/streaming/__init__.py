"""Structured Streaming variant of the extraction pipeline.

The parse kernel is a pure function of ``text`` packaged as one
``mapInArrow`` stage (``kernel.extract_text``), so the SAME kernel
powers batch and streaming — no semantic drift between the two
planes. What changes in streaming:

- no global window-over-(conv_id, turn_idx): ``row_number`` needs the
  whole conversation, which an unbounded stream never has. Per-turn
  extraction is emitted as turns arrive; the per-conversation running
  state (turns seen, max turn_idx, content hash) is maintained by a
  custom stateful operator (``conv_running_state``,
  ``applyInPandasWithState``) and final ordering is restored by the
  batch consumer exactly as the reference's callback mode emits nodes
  during parse while ``:last``-style queries need the finished tree
  (README.md:173).
- late data is governed by an event-time watermark on ``ts``
  (``turn_rates``).
"""

from .pipeline import (
    conv_running_state,
    dedup_stream,
    extract_stream,
    near_dup_detect_stream,
    read_transcripts_stream,
    turn_rates,
    write_extracted_stream,
)

__all__ = [
    "conv_running_state",
    "dedup_stream",
    "extract_stream",
    "near_dup_detect_stream",
    "read_transcripts_stream",
    "turn_rates",
    "write_extracted_stream",
]
