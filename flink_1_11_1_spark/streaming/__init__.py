"""Streaming tier (SURVEY.md §3.6/§3.11): file-replay harness (the
deterministic stand-in for Flink's operator test harness), watermark
wiring, the changelog/output-mode capability matrix, and the CEP
engine (``nfa.PatternSeq``) on ``applyInPandasWithState`` keyed state.
"""
