"""Layer-attributed benchmark of the clip→graph engine; see run.py."""
