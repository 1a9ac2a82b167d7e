"""Same-host benchmark of the KG-construction engine (see run.py)."""
