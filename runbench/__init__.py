"""End-to-end benchmark of the engine's validation and dedup runs (see run.py)."""
