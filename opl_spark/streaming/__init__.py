"""Structured Streaming tier: window operators that run in batch and
stream mode (``events``) and per-key stateful dedup (``stateful``)."""
